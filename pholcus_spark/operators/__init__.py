"""Operator facade — the engine's dataflow operators by SURVEY.md §2 name.

The implementation lives in flat modules (engine/bloom/oracle); this
package groups them the way the operator inventory does:

- frontier push/pull, politeness waves, limit guard, failure state
  machine: :class:`pholcus_spark.engine.CrawlEngine`
- URL-seen dedup (distributed Bloom sidecar + anti-join):
  :class:`pholcus_spark.bloom.SeenSet`, which ``CrawlEngine._push``
  probes
- reference-semantics oracle: :mod:`pholcus_spark.oracle`
"""

from ..bloom import BloomSidecar, build_sidecar, contains, load_sidecar, probe  # noqa: F401
from ..engine import CrawlEngine, EngineConfig  # noqa: F401
from ..oracle import OracleConfig, crawl as oracle_crawl  # noqa: F401

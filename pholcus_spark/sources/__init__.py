"""Source facade — scans/fetchers (SURVEY.md §2.1/§2.4).

- web fetch: :class:`pholcus_spark.fetch.FixtureFetcher` (test-mode
  equi-join) / :class:`pholcus_spark.httpfetch.HttpFetcher` (live HTTP
  over urllib)
- fixture corpus generation: :mod:`pholcus_spark.fixtures`
- snapshot-table reads: :class:`pholcus_spark.catalog.SnapshotCatalog`
"""

from ..catalog import SnapshotCatalog  # noqa: F401
from ..fetch import FixtureFetcher  # noqa: F401
from ..fixtures import Corpus, SiteSpec, generate, to_spark  # noqa: F401
from ..httpfetch import HttpFetcher  # noqa: F401

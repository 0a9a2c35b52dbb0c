"""Round-6 optimization instruments (bench.py stays frozen — guide §1).

Modes:
  python bench_extra.py time <query...>      noop-sink timing, median of N
  python bench_extra.py plan <query...>      capture .explain("formatted")

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default 32), PHOLCUS_REPS (default 3), PHOLCUS_PLAN_DIR (default
plans/r06).
"""

from __future__ import annotations

import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def force(df):
    df.write.mode("overwrite").format("noop").save()


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "time"
    args = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    reps = int(os.environ.get("PHOLCUS_REPS", "3"))

    from pholcus_spark.session import build_spark

    spark = build_spark(
        "pholcus-bench-extra", parallelism=cpus, shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()

    names = args or list(qs)
    if mode == "plan":
        out_dir = os.environ.get("PHOLCUS_PLAN_DIR", "plans/r06")
        suffix = os.environ.get("PHOLCUS_PLAN_SUFFIX", "before")
        os.makedirs(out_dir, exist_ok=True)
        for name in names:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            path = os.path.join(out_dir, f"{name}_{suffix}.txt")
            with open(path, "w") as f:
                f.write(buf.getvalue())
            print("wrote", path)
        return

    # mode == "time": warm up the session once on a cheap query, then
    # median-of-reps per named query (bench.py methodology, noop sink)
    force(qs["q_dedup_anti_join"](spark, sf_dir))
    timings = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        samples = []
        for _ in range(reps):
            t0 = time.time()
            force(qs[name](spark, sf_dir))
            samples.append(round(time.time() - t0, 3))
        samples.sort()
        timings[name] = {"median": samples[len(samples) // 2],
                         "samples": samples}
        spark.sparkContext.setJobDescription(None)
    print(json.dumps(timings, indent=1))


if __name__ == "__main__":
    main()

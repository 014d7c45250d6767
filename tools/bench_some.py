"""Time a subset of catalog queries exactly the way bench.py does
(noop write, clearCache between queries). Usage:
python tools/bench_some.py [sf_dir] name [name...]"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from id3c_spark.plans.queries import all_queries
from id3c_spark.session import get_spark


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.1"
    names = args[1:] if args and os.path.isdir(args[0]) else args
    spark = get_spark("bench_some")
    catalog = all_queries()
    catalog["pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    out = {}
    for name in names:
        t0 = time.perf_counter()
        catalog[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 3)
        spark.catalog.clearCache()
        print(json.dumps({name: out[name]}), flush=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

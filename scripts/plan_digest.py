"""Digest of each ``queries()`` entry's optimized logical plan.

    python scripts/plan_digest.py [sf_dir] [name ...]

``sf_dir`` (default: ``testdata/sf0.01`` beside the checkout) holds the
generated parquet tables; names restrict the run to those entries.

Prints one line per entry, ``<entry> <sha256>``: the sha256 of the
optimized logical plan's text with expression ids (``#12``, ``#12L``)
and the counters of lambda variable names (``lambda x_7`` → ``lambda x``)
stripped, so the digest names the plan's shape, not the session's id
counters (both count up over every entry planned before). Run it on
two checkouts and ``diff`` the output: an entry whose digest matches
plans the same operators over the same expressions, in the same
association order. An entry that does not return a DataFrame
prints ``-``; one that raises prints ``ERROR <exception type>``.

Entries whose plan differs between two runs of the same checkout, so a
digest mismatch there says nothing (both persist an intermediate frame
with ``caching.pin``, and the plan holds the cached relation):

    rescore minhash_lsh_pairs
"""

from __future__ import annotations

import hashlib
import os
import re
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from fluent_plugin_elasticsearch_spark.session import get_spark  # noqa: E402

_EXPR_ID = re.compile(r"#\d+L?")
_LAMBDA_VAR = re.compile(r"(lambda \w+?)_\d+\b")


def plan_digest(df) -> str:
    jdf = getattr(df, "_jdf", None)
    if jdf is None:
        return "-"
    plan = jdf.queryExecution().optimizedPlan().toString()
    plan = _LAMBDA_VAR.sub(r"\1", _EXPR_ID.sub("", plan))
    return hashlib.sha256(plan.encode("utf-8")).hexdigest()


def main() -> int:
    args = sys.argv[1:]
    sf_dir = (args.pop(0) if args and os.path.isdir(args[0])
              else os.path.join(os.path.dirname(_REPO), "testdata", "sf0.01"))
    only = set(args)
    spark = get_spark(app_name="plan_digest",
                      cores=os.environ.get("SPARK_GRAFT_CPUS", "4"))
    for name, fn in entry_mod.queries().items():
        if only and name not in only:
            continue
        try:
            line = plan_digest(fn(spark, sf_dir))
        except Exception as e:  # noqa: BLE001
            line = f"ERROR {type(e).__name__}"
        print(f"{name} {line}", flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Capture .explain("formatted") for the bench headline keys (and any extra
keys passed on argv) into plans/$TRIREME_PLANS_ROUND/<key>_<tag>.txt
(round defaults to r15).

Usage: capture_plans.py <tag> [key ...]   (tag = "before" | "after")
Defaults to the bench HEADLINE list when no keys are given.
$TRIREME_PLANS_TREE overrides which source tree the queries import from
(so a pre-change commit extracted under /tmp can produce the _before
plans while the output lands in the repo's plans/ dir).
"""
import os
import sys

_repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.environ.get("TRIREME_PLANS_TREE", _repo))

tag = sys.argv[1] if len(sys.argv) > 1 else "before"
from bench import HEADLINE  # noqa: E402

keys = sys.argv[2:] or HEADLINE

from trireme_spark import registry  # noqa: E402
from trireme_spark.session import get_spark  # noqa: E402

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
spark = get_spark("trireme-plans", cpus=cpus)

out_dir = os.path.join(
    _repo, "plans", os.environ.get("TRIREME_PLANS_ROUND", "r15")
)
os.makedirs(out_dir, exist_ok=True)
for k in keys:
    df = registry.QUERIES[k](spark, sf_dir)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    path = os.path.join(out_dir, f"{k}_{tag}.txt")
    with open(path, "w") as f:
        f.write(plan)
    n_ex = plan.count("Exchange")
    print(f"{k}: {len(plan.splitlines())} lines, Exchange x{n_ex} -> {path}")
spark.stop()

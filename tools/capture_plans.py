"""Capture .explain('formatted') for bench headline keys to
plans/$UDC_PLANS_DIR (default r22).

Usage: python tools/capture_plans.py before|after [key ...]
"""
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

def main():
    tag = sys.argv[1]
    import bench
    from universal_data_connector_spark.plans.catalog import QUERIES
    from universal_data_connector_spark.session import get_spark
    keys = sys.argv[2:] or bench.HEADLINE
    spark = get_spark("udc-plans")
    out_dir = os.path.join(REPO, "plans",
                           os.environ.get("UDC_PLANS_DIR", "r22"))
    os.makedirs(out_dir, exist_ok=True)
    for name in keys:
        try:
            df = QUERIES[name](spark, bench.SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted")
        except Exception as exc:
            plan = f"ERROR building {name}: {exc}"
        with open(os.path.join(out_dir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        print(name, "ok", flush=True)
    spark.stop()

if __name__ == "__main__":
    main()

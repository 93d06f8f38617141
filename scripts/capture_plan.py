"""Capture .explain('formatted') for named registry queries into
plans/<round>/<query>_<tag>.txt. Usage:
    python scripts/capture_plan.py <round> <tag> <sf_dir> <query> [query ...]
e.g. python scripts/capture_plan.py r15 after <sf_dir> st_affine_ops st_misc_ops
"""
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main():
    if len(sys.argv) < 5:
        sys.exit(__doc__)
    rnd, tag, sf_dir = sys.argv[1:4]
    names = sys.argv[4:]
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.plans.registry import QUERIES
    from geospatial_data_pipeline_spark_sedona_on_aws_spark.session import get_spark
    spark = get_spark("capture_plan")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(ROOT, "plans", rnd)
    os.makedirs(out_dir, exist_ok=True)
    for n in names:
        df = QUERIES[n](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(out_dir, f"{n}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs)")


if __name__ == "__main__":
    main()

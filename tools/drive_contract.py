"""Driver-faithful contract check: load __spark_entry__ by path, smoke
entry(), run queries() vs oracle_sql() in DuckDB at sf0.01 and compare
row count + columns + order-insensitive canonical values.

Usage: python tools/drive_contract.py [query ...]   (no args = all)
"""
import importlib.util, math, os, sys, time

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")


def canon(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def main(only: list[str]) -> int:
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    from legend_community_delta_spark.demo import _TABLES

    from pyspark.sql import SparkSession
    spark = (SparkSession.builder.master("local[8]")
             .config("spark.sql.shuffle.partitions", "8")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in _TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM '{SF}/{t}.parquet'")

    n = mod.entry(spark).count()
    print(f"entry: {n} rows", flush=True)

    qs, orc = mod.queries(), mod.oracle_sql()
    names = only or sorted(qs)
    fails = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF)
            srows = [tuple(r) for r in sdf.collect()]
            scols = sdf.columns
            if name not in orc:
                print(f"{name}: rows-only {len(srows)} rows "
                      f"({time.time() - t0:.1f}s)", flush=True)
                continue
            cur = con.execute(orc[name])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            so = sorted(range(len(scols)), key=lambda i: scols[i])
            oo = sorted(range(len(ocols)), key=lambda i: ocols[i])
            sc = sorted((tuple(canon(r[i]) for i in so) for r in srows), key=repr)
            oc = sorted((tuple(canon(r[i]) for i in oo) for r in orows), key=repr)
            ok = sorted(scols) == sorted(ocols) and sc == oc
            if not ok:
                fails.append(name)
                diff = [(a, b) for a, b in zip(sc, oc) if a != b][:2]
                print(f"{name}: FAIL cols {scols} vs {ocols} diff={diff}",
                      flush=True)
            else:
                print(f"{name}: OK {len(srows)} rows "
                      f"({time.time() - t0:.1f}s)", flush=True)
        except Exception as ex:  # noqa: BLE001 - report and keep driving
            fails.append(name)
            print(f"{name}: ERROR {ex}", flush=True)
    print(f"RESULT: {len(names)} queries, fails={fails}", flush=True)
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

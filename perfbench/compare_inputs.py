"""Compare the query suite's generated tables with a reference table set.

    python3 perfbench/compare_inputs.py --reference DIR [--seed 1] [--passes 3]

DIR holds the ten tables (``<name>.parquet``) the headline queries were
written against, at the scale the benchmark generates (sf0.01). The script
prints, per table, the row counts and the value profile that the text,
vector and event queries depend on, for both sets side by side. It then
runs the 24 headline queries on both sets in one Spark session, passes
interleaved, and prints each query's share of the warm time (its fastest
pass over the sum of fastest passes) on either set. Run it from the
repository root; it writes only under ``perfbench/.work``.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import duckdb  # noqa: E402

import inputs  # noqa: E402

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

PROFILE = {
    "documents": """
        WITH d AS (SELECT *, string_split(text, ' ') AS w FROM '{p}')
        SELECT count(*) AS rows, count(DISTINCT text) AS distinct_texts,
               (SELECT count(DISTINCT x) FROM (SELECT unnest(w) AS x FROM d)) AS vocabulary,
               round(avg(len(w)), 1) AS avg_words, min(len(w)) AS min_words, max(len(w)) AS max_words,
               count(DISTINCT source) AS sources, count(DISTINCT lang) AS langs,
               round(avg((lang = 'en')::INT), 3) AS en_share
        FROM d""",
    "embeddings": "SELECT count(*) AS rows, min(len(embedding)) AS dim, count(DISTINCT label) AS labels FROM '{p}'",
    "events": """SELECT count(*) AS rows, count(DISTINCT user_id) AS users, count(DISTINCT event_type) AS types,
                        date_diff('day', min(ts), max(ts)) AS days FROM '{p}'""",
}


def profile(con, d: str, table: str) -> dict:
    p = os.path.join(d, f"{table}.parquet")
    sql = PROFILE.get(table, "SELECT count(*) AS rows FROM '{p}'").format(p=p)
    cur = con.execute(sql)
    return dict(zip([c[0] for c in cur.description], cur.fetchone()))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--reference", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=3)
    args = ap.parse_args()
    work = os.path.join(HERE, ".work")
    gen, _ = inputs.cached_tables(work, inputs.SCALE["full"], args.seed)

    con = duckdb.connect()
    for t in TABLES:
        g, r = profile(con, gen, t), profile(con, args.reference, t)
        print(f"{t:<11} generated {g}\n{'':<11} reference {r}")

    import __spark_entry__ as entry
    from bench import HEADLINE

    from multi_table_plugins_spark.session import get_spark

    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spark = get_spark("perfbench-compare", cores=4, extra_conf={
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    best = {gen: {}, args.reference: {}}
    try:
        for i in range(args.passes + 1):  # pass 0 is cold and not counted
            for d in best:
                for name in HEADLINE:
                    t0 = time.perf_counter()
                    qs[name](spark, d).write.format("noop").mode("overwrite").save()
                    dt = time.perf_counter() - t0
                    if i:
                        best[d][name] = min(dt, best[d].get(name, dt))
    finally:
        spark.stop()
    tg, tr = sum(best[gen].values()), sum(best[args.reference].values())
    print(f"\n{'query':<24} {'generated':>10} {'reference':>10}   (share of warm time)")
    for name in HEADLINE:
        print(f"{name:<24} {best[gen][name] / tg:>10.3f} {best[args.reference][name] / tr:>10.3f}")
    print(f"{'warm pass (s)':<24} {tg:>10.2f} {tr:>10.2f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

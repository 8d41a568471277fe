"""Pin the results the traced runs check the engine layers against.

    python3 perfbench/pin_engine.py

Generates the engine tables (sf0.01, fixed seed), checks every
comparable-21 and store query against its DuckDB oracle on those
tables, and only when all of them match writes each query's full-row hash
to ``perfbench/engine_pins.json``. Run it again when
the table generator or a query's defined output changes; a hash that
moves without such a change is a correctness regression.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

from run import ROOT, fit_box, spark_conf, stop_spark


def main() -> int:
    work = os.path.join(ROOT, ".bench_work", f"pin-{os.getpid()}")
    fit_box(work)
    sys.path.insert(0, ROOT)
    from dmds_spark.oracle import compare_query, duckdb_connection
    from dmds_spark.queries import all_oracle_sql
    from dmds_spark.session import get_spark, release_materialized_state

    from engine_load import PINS, SF, STORES, TABLE_SEED, EngineRun, comparable21, consume_hash
    from spans import Tracer

    spark = get_spark(app_name="perfbench-pin", extra_conf=spark_conf(work, False))
    try:
        er = EngineRun(spark, work, ROOT, Tracer(False))
        er.prepare()
        con = duckdb_connection(er.sf_dir)
        sqls = all_oracle_sql()
        pins = {"sf": SF, "table_seed": TABLE_SEED, "hash": {}}
        bad = []
        for name in comparable21() + STORES:
            r = compare_query(spark, con, name, er.qs[name], sqls[name], er.sf_dir)
            release_materialized_state(spark)
            print(f"oracle {name}: {'ok' if r.ok else 'MISMATCH ' + r.detail}", file=sys.stderr)
            if not r.ok:
                bad.append(name)
                continue
            pins["hash"][name] = consume_hash(er.qs[name](spark, er.sf_dir))
            release_materialized_state(spark)
        con.close()
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    if bad:
        print(f"pin_engine: {len(bad)} queries disagree with the oracle: {bad}", file=sys.stderr)
        return 1
    with open(PINS, "w") as fh:
        json.dump(pins, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"pinned {len(pins['hash'])} queries to {PINS}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Record the expected output fingerprints in ``perfbench/expected.json``.

    python3 perfbench/record_expected.py

Run from the root of a checkout whose outputs are known good. For the
extraction workloads it records the fingerprint of one run at the default
seed. For ``analytics`` it first compares every query's rows with the
query's DuckDB oracle (``__spark_entry__.oracle_sql()``, cell for cell as
``scripts/selfcheck.py --exact`` does) and refuses to record a query that
does not match.
"""

from __future__ import annotations

import json
import os
import sys
from datetime import datetime, timezone

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.dirname(os.path.abspath(__file__))


def _oracle_mismatches(workload) -> list[str]:
    import duckdb

    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    import selfcheck

    selfcheck.EXACT = True
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = workload.data_dir
    con = duckdb.connect()
    for name in os.listdir(workload.data_dir):
        table = name.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{workload.data_dir}/{name}'")
    oracles = workload.entry.oracle_sql()
    bad = []
    for name in workload.order:
        df = workload.query(name)
        columns, rows = df.columns, df.collect()
        res = con.execute(oracles[name])
        d_cols, d_rows = selfcheck.norm_rows([d[0] for d in res.description], res.fetchall())
        s_cols, s_rows = selfcheck.norm_rows(columns, [tuple(r) for r in rows])
        if s_cols != d_cols or not selfcheck.rows_match(s_rows, d_rows):
            bad.append(name)
        print(f"{'ok  ' if name not in bad else 'FAIL'} {name}: {len(s_rows)} rows", file=sys.stderr)
    return bad


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench import workloads
    from perfbench.run import _start_spark, _stop_spark

    work = os.path.join(ROOT, ".perfbench", f"record-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    nproc = len(os.sched_getaffinity(0))
    spark = _start_spark(work, nproc)
    expected: dict = {}
    try:
        ctx = workloads.Context(
            spark=spark, nproc=nproc, seed=workloads.DEFAULT_SEED, work=work,
            expected={}, started=datetime.now(timezone.utc),
        )
        for cls in (workloads.ExtractHtml, workloads.PipelineMixed):
            workload = cls(ctx)
            workload.build_input()
            result = workload.run_once(0, "record")
            if workload.check(result):
                raise SystemExit(f"{cls.name}: the run failed its own checks")
            (fingerprint,) = workload.fingerprints
            expected[cls.name] = fingerprint
        analytics = workloads.Analytics(ctx)
        analytics.build_input()
        analytics.ship_package()
        bad = _oracle_mismatches(analytics)
        if bad:
            raise SystemExit(f"analytics queries differ from their oracle: {bad}")
        result = analytics.run_once(0, "record")
        expected["analytics"] = dict(sorted(result.notes["fingerprints"].items()))
    finally:
        _stop_spark(spark)
        import shutil

        shutil.rmtree(work, ignore_errors=True)
    with open(os.path.join(HERE, "expected.json"), "w") as fh:
        json.dump(expected, fh, indent=2)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

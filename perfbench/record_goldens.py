#!/usr/bin/env python3
"""Records the gate workload's golden digests.

    python3 perfbench/record_goldens.py

Runs each gate query on Spark (perfbench.GateDump), replays its DuckDB
twin (SparkEntry.oracleSql) over the same tables with the local duckdb,
and writes perfbench/data/gate_goldens.tsv with the Spark digest of
every query whose output matches its twin: same columns, and the same
rows once both are sorted and rounded to 6 dp. A query whose output
differs gets no golden, so the benchmark counts it as a failed op.
"""
import glob
import os
import shutil
import subprocess
import sys

import duckdb

import run

SF = "sf0.01"


def main():
    data = os.path.join(run.HERE, "data")
    run.build()
    work = os.path.join(run.RUNS, f"{os.getpid()}-goldens")
    out = os.path.join(work, "out")
    os.makedirs(os.path.join(work, "tmp"))
    try:
        with open(run.CLASSPATH) as f:
            cp = f.read().strip()
        cmd = (["java", run.HEAP, "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
               + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "perfbench.GateDump", "--data", data, "--out", out,
                  "--scratch", work])
        subprocess.run(cmd, cwd=work, check=True)
        con = duckdb.connect()
        for p in glob.glob(os.path.join(data, SF, "*.parquet")):
            name = os.path.basename(p)[:-len(".parquet")]
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
        digests = dict(l.rstrip("\n").split("\t") for l in open(os.path.join(out, "digests.tsv")))
        goldens, bad = {}, []
        for name in sorted(digests):
            with open(os.path.join(out, f"{name}.sql")) as f:
                exp = con.execute(f.read()).df()
            got = duckdb.query(
                f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')").df()
            same = sorted(exp.columns) == sorted(got.columns) and len(exp) == len(got)
            if same:
                exp = exp.sort_index(axis=1)
                got = got.sort_index(axis=1)
                exp = exp.sort_values(list(exp.columns)).reset_index(drop=True)
                got = got.sort_values(list(got.columns)).reset_index(drop=True)
                same = exp.round(6).equals(got.round(6))
            print(f"{name}: {'OK' if same else 'MISMATCH'}")
            if same:
                goldens[name] = digests[name]
            else:
                bad.append(name)
        with open(os.path.join(data, "gate_goldens.tsv"), "w") as f:
            for name in sorted(goldens):
                f.write(f"{name}\t{goldens[name]}\n")
        print(f"{len(goldens)} goldens recorded; mismatches: {bad or 'none'}")
        return 1 if bad else 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

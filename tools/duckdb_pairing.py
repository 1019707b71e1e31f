#!/usr/bin/env python3
"""Paired DuckDB timing run — the oracle half of the 2x-bar comparison.

Executes every statement in a graft.Verify out dir's oracle_sql.json
against the sf tables (views over the same parquet the engine read) and
writes each result with COPY (...) TO '<tmp>/<name>.parquet', so both
sides materialize and write the whole output: graft.Verify writes each
query's result as one parquet file and records its seconds in
<outDir>/verify.json. Prints, per rep, the DuckDB total, the engine total
over the same queries (those that succeeded on the engine side) and the
slowest DuckDB statements. Run graft.Verify on the same machine first.

Usage: python3 tools/duckdb_pairing.py <sfDir> <verifyOutDir> [reps]
"""
import sys, os, json, time, tempfile
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def main():
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    sql = json.load(open(f"{out_dir}/oracle_sql.json"))
    engine = json.load(open(f"{out_dir}/verify.json"))["queries"]
    paired = sorted(n for n in sql if engine.get(n, -1) >= 0)
    engine_total = sum(engine[n] for n in paired)
    for rep in range(reps):
        con = duckdb.connect()
        for t in TABLES:
            p = f"{sf_dir}/{t}.parquet"
            src = (f"read_parquet('{p}/*.parquet')" if os.path.isdir(p)
                   else f"read_parquet('{p}')")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM {src}")
        times = {}
        with tempfile.TemporaryDirectory(prefix="duckdb-pairing-") as tmp:
            for name in paired:
                q0 = time.time()
                con.execute(f"COPY ({sql[name].strip().rstrip(';')}) TO "
                            f"'{tmp}/{name}.parquet' (FORMAT parquet)")
                times[name] = time.time() - q0
        total = sum(times.values())
        top = sorted(times.items(), key=lambda kv: -kv[1])[:5]
        label = "first" if rep == 0 else f"warm{rep}"
        print(f"DUCKDB {label} total={total:.1f}s engine={engine_total:.1f}s "
              f"ratio={engine_total / total:.2f} n={len(paired)} slowest=" +
              " ".join(f"{k}:{v:.1f}" for k, v in top))
        con.close()


if __name__ == "__main__":
    main()

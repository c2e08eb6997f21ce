#!/usr/bin/env python3
"""Partition-count independence check: every catalog query must produce
byte-identical rows at any parallelism (the determinism contract behind
the hash-compared oracle gate).

Usage:
  SPARK_GRAFT_CPUS=4  sbt -batch "runMain graft.Verify <sfDir> /tmp/va"
  SPARK_GRAFT_CPUS=32 sbt -batch "runMain graft.Verify <sfDir> /tmp/vb"
  python3 scripts/partition_check.py /tmp/va /tmp/vb

All queries are fully compared: the certified sketch forms
(q_order_percentiles_approx booleans, q_unique_wallets_hll bound) are
partition-independent by construction.
"""
import duckdb, glob, os, sys

def main(a_dir, b_dir):
    con = duckdb.connect()
    bad = []
    names = sorted(n for n in os.listdir(a_dir)
                   if os.path.isdir(os.path.join(a_dir, n)))
    for name in names:
        fa = glob.glob(f"{a_dir}/{name}/*.parquet")
        fb = glob.glob(f"{b_dir}/{name}/*.parquet")
        if not fb:
            bad.append(f"{name}:missing")
            continue
        a = con.execute(f"SELECT * FROM read_parquet({fa!r})").fetchall()
        b = con.execute(f"SELECT * FROM read_parquet({fb!r})").fetchall()
        if sorted(map(repr, a)) != sorted(map(repr, b)):
            bad.append(name)
    if bad:
        print("MISMATCH:", bad)
        sys.exit(1)
    print(f"all {len(names)} queries partition-count independent")

if __name__ == "__main__":
    main(sys.argv[1], sys.argv[2])

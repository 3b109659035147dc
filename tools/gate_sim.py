"""Driver-gate simulation: every queries() entry vs its oracle_sql() twin
at sf0.01, rows+schema+hash, written as a CORRECTNESS-style JSON.

The driver only checks the first 50 queries() entries; this runs ALL of
them (131) under the same compare discipline (column sort
by name, float round-6, row sort), so the full catalog has a local
driver-equivalent record. Run from the repo root:

    PYTHONPATH=. python tools/gate_sim.py [SF_DIR] [OUT_JSON]

Exit status 1 if any twin mismatches."""
import json
import math
import os
import sys

import duckdb

from pl_marker_spark import queries_catalog as qc
from pl_marker_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
OUT = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
    os.path.dirname(__file__), "gate_sim.json")
spark = get_spark()
spark.sparkContext.setLogLevel("ERROR")
con = duckdb.connect()
for t in ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split():
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")


def norm(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    return v


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm(r[i]) for i in order) for r in rows)


out = {}
qs = qc.queries()
oracles = qc.oracle_sql()


def run_once(name, connection=None):
    connection = connection or con
    rec = {"rows_match": False, "schema_match": False, "hash_match": False,
           "err": None}
    try:
        sdf = qs[name](spark, SF)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        res = connection.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        rec["spark_rows"] = len(srows)
        rec["oracle_rows"] = len(drows)
        rec["rows_match"] = len(srows) == len(drows)
        rec["schema_match"] = sorted(scols) == sorted(dcols)
        sc, dc = canon(srows, scols), canon(drows, dcols)
        rec["hash_match"] = sc == dc
        if not rec["hash_match"]:
            # diagnosable artifact for an intermittent mismatch: the
            # symmetric row difference (a session-13/14 kg_edge_intervals
            # anomaly failed in ONE long-lived session, passed in every
            # fresh process — without the differing rows there is nothing
            # to root-cause)
            # Counter-based diff (round-6, ADVICE): set-membership hid
            # multiplicity-only mismatches (same rows, different dup
            # counts) as two empty lists — exactly the nothing-to-root-
            # cause situation this diagnostic exists to avoid
            from collections import Counter

            s_extra = Counter(sc) - Counter(dc)
            d_extra = Counter(dc) - Counter(sc)
            rec["only_spark"] = [list(map(str, r))
                                 for r in s_extra.elements()][:10]
            rec["only_oracle"] = [list(map(str, r))
                                  for r in d_extra.elements()][:10]
    except Exception as exc:  # noqa: BLE001
        rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
    return rec


for name in qs:
    rec = run_once(name)
    ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
    if not ok:
        # Retry ladder for intermittent anomalies (kg_edge_intervals:
        # failed BOTH attempts inside one long-lived session, green in
        # every fresh process and every other replay): retry #1 re-runs
        # both sides as-is; retry #2 rebuilds the DuckDB side on a FRESH
        # connection+views, so a pass there implicates accumulated
        # DuckDB session state while a persistent fail points at the
        # Spark side. Whichever retry passes is recorded loudly with the
        # failing attempt (incl. its differing rows) preserved.
        rec2 = run_once(name)
        if rec2["rows_match"] and rec2["schema_match"] and rec2["hash_match"]:
            rec2["flaky_first_attempt"] = rec
            rec = rec2
            ok = True
            print("FLAKY-PASS", name, "first attempt mismatched, retry clean",
                  flush=True)
        else:
            con2 = duckdb.connect()
            for t in ("region nation customer supplier part orders lineitem "
                      "events documents embeddings").split():
                con2.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{SF}/{t}.parquet')")
            rec3 = run_once(name, con2)
            con2.close()
            if (rec3["rows_match"] and rec3["schema_match"]
                    and rec3["hash_match"]):
                rec3["flaky_first_attempt"] = rec
                rec3["flaky_second_attempt"] = rec2
                rec3["passed_on"] = "fresh_duckdb_connection"
                rec = rec3
                ok = True
                print("FLAKY-PASS", name,
                      "both shared-connection attempts mismatched, "
                      "fresh-connection retry clean", flush=True)
    out[name] = rec
    if not (rec.get("flaky_first_attempt") and ok):
        print(("PASS" if ok else "FAIL"), name, rec.get("spark_rows"),
              rec["err"] or "", flush=True)

with open(OUT, "w") as f:
    json.dump(out, f, indent=1)
bad = [k for k, v in out.items()
       if not (v["rows_match"] and v["schema_match"] and v["hash_match"])]
print("TOTAL", len(out), "BAD", len(bad), bad)
sys.exit(1 if bad else 0)

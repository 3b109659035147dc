"""Driver-gate simulation: queries() entries vs their oracle_sql() twins,
rows+schema+hash, under the driver's compare discipline (column sort by
name, float round-6, row sort).

The driver only checks the first 50 queries() entries; with no NAME this
runs ALL of them and writes tools/gate_sim.json, a CORRECTNESS-style
record of the full catalog. With NAMEs it checks only those rows and
writes nothing. Run from the repo root:

    PYTHONPATH=. python tools/gate_sim.py [SF_DIR [NAME ...]]

Prints PASS/FAIL per row, with the Counter diff of the canonical rows for
a failure. Exit status 1 if any twin mismatches."""
import json
import math
import os
import sys
from collections import Counter

import duckdb

from pl_marker_spark import queries_catalog as qc
from pl_marker_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
NAMES = sys.argv[2:]
OUT = os.path.join(os.path.dirname(__file__), "gate_sim.json")
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


def check(name):
    rec = {"rows_match": False, "schema_match": False, "hash_match": False,
           "err": None}
    try:
        sdf = qs[name](spark, SF)
        srows = [tuple(r) for r in sdf.collect()]
        scols = sdf.columns
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        rec["spark_rows"] = len(srows)
        rec["oracle_rows"] = len(drows)
        rec["rows_match"] = len(srows) == len(drows)
        rec["schema_match"] = sorted(scols) == sorted(dcols)
        sc, dc = canon(srows, scols), canon(drows, dcols)
        rec["hash_match"] = sc == dc
        if not rec["hash_match"]:
            # multiset diff: a set-membership diff shows a mismatch in
            # duplicate counts alone as two empty lists
            s_extra = Counter(sc) - Counter(dc)
            d_extra = Counter(dc) - Counter(sc)
            rec["only_spark"] = [list(map(str, r))
                                 for r in s_extra.elements()][:10]
            rec["only_oracle"] = [list(map(str, r))
                                  for r in d_extra.elements()][:10]
    except Exception as exc:  # noqa: BLE001
        rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
    return rec


qs = qc.queries()
oracles = qc.oracle_sql()
out = {}
for name in NAMES or qs:
    rec = check(name)
    out[name] = rec
    ok = rec["rows_match"] and rec["schema_match"] and rec["hash_match"]
    print(("PASS" if ok else "FAIL"), name, rec.get("spark_rows"),
          rec.get("oracle_rows"), rec["err"] or "", flush=True)
    if not ok and "only_spark" in rec:
        print("  only_spark:", rec["only_spark"])
        print("  only_oracle:", rec["only_oracle"])

if not NAMES:
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1)
bad = [k for k, v in out.items()
       if not (v["rows_match"] and v["schema_match"] and v["hash_match"])]
print("TOTAL", len(out), "BAD", len(bad), bad)
sys.exit(1 if bad else 0)

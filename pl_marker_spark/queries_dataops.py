"""Training-data pipeline operators, round-4 extension set: the published
corpus-curation rules a 100-TB pretraining pipeline runs alongside dedup —
Gopher repetition fractions, C4 line filters + corpus-level line dedup,
PII scrubbing, benchmark decontamination, and deterministic stratified
sampling. Every operator is a driver-gated catalog entry with a DuckDB
twin over the same parquet tables.

Scale conventions shared with queries_catalog.py:
- n-gram shuffles carry xxhash64 ids (+ the few numeric columns the op
  needs), never the gram strings; the DuckDB twins join on the *literal*
  grams, so each gate also validates the hashed shortcut end-to-end.
- cross-engine determinism: doubles rounded to 6dp, ties broken on
  numeric columns only (never engine-dependent string order), md5 (which
  both engines implement identically over UTF-8) for samplers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F


def _doc(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------- Gopher repetition rules (Rae et al. 2021, §A1.1 table A1) ------

_TOP_NS = (2, 3, 4)           # "fraction of characters in the most common n-gram"
_DUP_NS = (5, 6, 7)           # "fraction of characters in duplicate n-grams"
_TOP_THRESH = {2: 0.20, 3: 0.18, 4: 0.16}   # the paper's published bounds
_DUP_THRESH = {5: 0.15, 6: 0.14, 7: 0.13}


def q_gopher_repetition(spark, sf_dir):
    """Gopher's n-gram repetition filters (Rae et al. 2021 §A1.1): for
    n∈{2,3,4} the fraction of characters covered by the single most
    frequent n-gram, for n∈{5,6,7} the fraction of characters in n-grams
    occurring more than once (all occurrences counted, the common public
    reading of the rule), each against the paper's thresholds, plus the
    conjunctive keep flag.

    Plan shape: ONE explode produces (doc_id, n, gram-hash, gram-chars)
    for all six n simultaneously (JVM transform/sequence/slice — no
    Python), the count groupBy shuffles (doc_id, n, hash) ids only, and
    the per-(doc,n) reduction + final pivot are map-side-combinable aggs.
    The most-frequent tie is broken on (count, char-length) — a numeric,
    engine-independent rule; tied (c, l) pairs yield the same fraction
    regardless of which gram wins. The DuckDB twin re-derives everything
    from the literal gram strings, validating the hash shortcut."""
    d = _doc(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("nc"), F.split("text", " ").alias("ws")
    )
    all_ns = sorted(_TOP_NS + _DUP_NS)
    grams = (
        d.select("doc_id", "nc", "ws",
                 F.explode(F.array(*[F.lit(n) for n in all_ns])).alias("n"))
        .filter(F.size("ws") >= F.col("n"))
        .select(
            "doc_id", "nc", "n",
            F.explode(F.expr(
                "transform(sequence(0, size(ws)-n), i -> struct("
                " xxhash64(array_join(slice(ws, i+1, n), ' ')) AS gh,"
                " length(array_join(slice(ws, i+1, n), ' ')) AS gl))"
            )).alias("g"),
        )
        .select("doc_id", "nc", "n", F.col("g.gh").alias("gh"),
                F.col("g.gl").alias("gl"))
    )
    counts = grams.groupBy("doc_id", "nc", "n", "gh", "gl").agg(
        F.count("*").alias("c")
    )
    per_n = counts.groupBy("doc_id", "nc", "n").agg(
        F.max(F.struct("c", "gl")).alias("top"),
        F.sum(F.when(F.col("c") >= 2, F.col("c") * F.col("gl"))).alias("dup_chars"),
    ).select(
        "doc_id", "n",
        F.round(F.col("top.c") * F.col("top.gl") / F.col("nc"), 6).alias("topf"),
        F.round(F.coalesce(F.col("dup_chars"), F.lit(0)) / F.col("nc"), 6).alias("dupf"),
    )
    agg = [
        F.coalesce(F.max(F.when(F.col("n") == n, F.col("topf"))), F.lit(0.0))
        .alias(f"top_ngram_frac_{n}") for n in _TOP_NS
    ] + [
        F.coalesce(F.max(F.when(F.col("n") == n, F.col("dupf"))), F.lit(0.0))
        .alias(f"dup_ngram_frac_{n}") for n in _DUP_NS
    ]
    wide = per_n.groupBy("doc_id").agg(*agg)
    keep = None
    for n in _TOP_NS:
        r = F.col(f"top_ngram_frac_{n}") <= _TOP_THRESH[n]
        keep = r if keep is None else (keep & r)
    for n in _DUP_NS:
        keep = keep & (F.col(f"dup_ngram_frac_{n}") <= _DUP_THRESH[n])
    return wide.select("doc_id", *[f"top_ngram_frac_{n}" for n in _TOP_NS],
                       *[f"dup_ngram_frac_{n}" for n in _DUP_NS],
                       keep.cast("long").alias("keep"))


SQL_GOPHER_REPETITION = """
WITH d AS (SELECT doc_id, length(text) AS nc, string_split(text,' ') AS ws
           FROM documents),
ns AS (SELECT UNNEST([2,3,4,5,6,7]) AS n),
g AS (SELECT doc_id, nc, n, array_to_string(ws[i:i+n-1], ' ') AS gram
      FROM (SELECT d.doc_id, d.nc, ns.n, d.ws,
                   UNNEST(range(1, len(d.ws) - ns.n + 2)) AS i
            FROM d CROSS JOIN ns WHERE len(d.ws) >= ns.n) x),
c AS (SELECT doc_id, nc, n, gram, length(gram) AS gl, count(*) AS c
      FROM g GROUP BY doc_id, nc, n, gram),
r AS (SELECT doc_id, nc, n, c, gl,
             row_number() OVER (PARTITION BY doc_id, n
                                ORDER BY c DESC, gl DESC) AS rk
      FROM c),
topf AS (SELECT doc_id, n, round(c * gl / nc, 6) AS topf FROM r WHERE rk = 1),
dupf AS (SELECT doc_id, n,
                round(coalesce(sum(CASE WHEN c >= 2 THEN c * gl END), 0) / any_value(nc), 6) AS dupf
         FROM c GROUP BY doc_id, n),
p AS (SELECT t.doc_id, t.n, t.topf, d2.dupf
      FROM topf t JOIN dupf d2 ON t.doc_id = d2.doc_id AND t.n = d2.n),
w AS (SELECT doc_id,
        coalesce(max(CASE WHEN n=2 THEN topf END), 0.0) AS top_ngram_frac_2,
        coalesce(max(CASE WHEN n=3 THEN topf END), 0.0) AS top_ngram_frac_3,
        coalesce(max(CASE WHEN n=4 THEN topf END), 0.0) AS top_ngram_frac_4,
        coalesce(max(CASE WHEN n=5 THEN dupf END), 0.0) AS dup_ngram_frac_5,
        coalesce(max(CASE WHEN n=6 THEN dupf END), 0.0) AS dup_ngram_frac_6,
        coalesce(max(CASE WHEN n=7 THEN dupf END), 0.0) AS dup_ngram_frac_7
      FROM p GROUP BY doc_id)
SELECT doc_id, top_ngram_frac_2, top_ngram_frac_3, top_ngram_frac_4,
       dup_ngram_frac_5, dup_ngram_frac_6, dup_ngram_frac_7,
       (CASE WHEN top_ngram_frac_2 <= 0.20 AND top_ngram_frac_3 <= 0.18
              AND top_ngram_frac_4 <= 0.16 AND dup_ngram_frac_5 <= 0.15
              AND dup_ngram_frac_6 <= 0.14 AND dup_ngram_frac_7 <= 0.13
        THEN 1 ELSE 0 END)::BIGINT AS keep
FROM w
"""


# ---------- C4 line-level filters (Raffel et al. 2020, §2.2) ---------------
#
# The corpus text is single-line word soup, so "lines" are defined as
# aligned 12-word chunks and the C4 boilerplate markers are PLANTED
# deterministically (the _planted_embeddings precedent): doc_id%7==0 gets
# a trailing "javascript must be enabled" line, doc_id%11==0 "lorem ipsum
# dolor", doc_id%13==0 a "{" token. Both engines derive the identical
# augmented text, so the gate checks the filter logic, not the planting.

_C4_LINE_WORDS = 12


def _c4_text_expr_spark():
    t = F.col("text")
    t = F.when(F.col("doc_id") % 7 == 0,
               F.concat(t, F.lit(" javascript must be enabled"))).otherwise(t)
    t = F.when(F.col("doc_id") % 11 == 0,
               F.concat(t, F.lit(" lorem ipsum dolor"))).otherwise(t)
    t = F.when(F.col("doc_id") % 13 == 0,
               F.concat(t, F.lit(" open { close"))).otherwise(t)
    return t


_C4_TEXT_SQL = """
  (text
   || CASE WHEN doc_id % 7  = 0 THEN ' javascript must be enabled' ELSE '' END
   || CASE WHEN doc_id % 11 = 0 THEN ' lorem ipsum dolor' ELSE '' END
   || CASE WHEN doc_id % 13 = 0 THEN ' open { close' ELSE '' END)
"""


def q_c4_filters(spark, sf_dir):
    """C4's cleaning rules (Raffel et al. 2020 §2.2) re-expressed over the
    chunked corpus: lines (12-word aligned chunks) are dropped when under
    5 words or containing the word "javascript"; whole documents are
    dropped on "lorem ipsum", a curly brace, or fewer than 3 surviving
    lines. Emits per-rule columns + the conjunctive keep so removals are
    attributable per rule (same discipline as gopher_rules). All line
    logic is JVM transform/filter inside the row — zero shuffle beyond
    the scan."""
    d = _doc(spark, sf_dir, "documents").select(
        "doc_id", _c4_text_expr_spark().alias("t2")
    ).select(
        "doc_id", "t2", F.split("t2", " ").alias("ws")
    )
    lw = _C4_LINE_WORDS
    lines = F.expr(
        f"transform(sequence(0, cast(ceil(size(ws)/{lw}.0) as int) - 1),"
        f" i -> array_join(slice(ws, i*{lw}+1, {lw}), ' '))"
    )
    kept = F.filter(
        lines,
        lambda ln: (F.size(F.split(ln, " ")) >= 5)
        & ~ln.contains("javascript"),
    )
    out = d.select(
        "doc_id",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("kept_lines"),
        (~F.col("t2").contains("lorem ipsum")).cast("long").alias("r_lorem"),
        (~F.col("t2").contains("{")).cast("long").alias("r_brace"),
    ).withColumn(
        "r_minlines", (F.col("kept_lines") >= 3).cast("long")
    )
    return out.select(
        "doc_id", "n_lines", "kept_lines", "r_lorem", "r_brace", "r_minlines",
        ((F.col("r_lorem") == 1) & (F.col("r_brace") == 1)
         & (F.col("r_minlines") == 1)).cast("long").alias("keep"),
    )


SQL_C4_FILTERS = f"""
WITH d AS (SELECT doc_id, {_C4_TEXT_SQL} AS t2 FROM documents),
w AS (SELECT doc_id, t2, string_split(t2, ' ') AS ws FROM d),
l AS (SELECT doc_id, t2, len(ws) AS nw,
             cast(ceil(len(ws) / {_C4_LINE_WORDS}.0) AS BIGINT) AS n_lines,
             list_transform(range(cast(ceil(len(ws) / {_C4_LINE_WORDS}.0) AS BIGINT)),
                 i -> array_to_string(ws[i*{_C4_LINE_WORDS}+1 : (i+1)*{_C4_LINE_WORDS}], ' ')) AS lines
      FROM w),
k AS (SELECT doc_id, t2, n_lines,
             len(list_filter(lines,
                 ln -> len(string_split(ln, ' ')) >= 5
                       AND NOT contains(ln, 'javascript'))) AS kept_lines
      FROM l)
SELECT doc_id, n_lines, kept_lines::BIGINT AS kept_lines,
       (CASE WHEN NOT contains(t2, 'lorem ipsum') THEN 1 ELSE 0 END)::BIGINT AS r_lorem,
       (CASE WHEN NOT contains(t2, '{{') THEN 1 ELSE 0 END)::BIGINT AS r_brace,
       (CASE WHEN kept_lines >= 3 THEN 1 ELSE 0 END)::BIGINT AS r_minlines,
       (CASE WHEN NOT contains(t2, 'lorem ipsum') AND NOT contains(t2, '{{')
              AND kept_lines >= 3 THEN 1 ELSE 0 END)::BIGINT AS keep
FROM k
"""


# ---------- C4 corpus-level line dedup -------------------------------------

_DEDUP_LINE_WORDS = 5


def q_c4_line_dedup(spark, sf_dir):
    """C4's corpus-level occurrence dedup ("any three-sentence span seen
    more than once is removed, keeping one") over aligned 5-word lines:
    the globally-first occurrence of each distinct line survives, ranked
    by (doc_id, line_idx). Emits per-document surviving/removed counts.

    Scale shape: the only shuffle is the rank window over
    (line-hash → doc_id, line_idx) — ids + two ints, never line text; at
    100 TB this is the canonical "first-writer-wins" dedup partitioned by
    content hash. The DuckDB twin ranks the literal line strings."""
    lw = _DEDUP_LINE_WORDS
    d = _doc(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    lines = d.select(
        "doc_id",
        F.posexplode(F.expr(
            f"transform(sequence(0, cast(ceil(size(ws)/{lw}.0) as int) - 1),"
            f" i -> xxhash64(array_join(slice(ws, i*{lw}+1, {lw}), ' ')))"
        )).alias("li", "lh"),
    )
    w = Window.partitionBy("lh").orderBy("doc_id", "li")
    ranked = lines.withColumn("rk", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_lines"),
        F.sum((F.col("rk") > 1).cast("long")).cast("long").alias("n_removed"),
        F.round(F.sum((F.col("rk") > 1).cast("long")) / F.count("*"), 6)
        .alias("removed_frac"),
    )


SQL_C4_LINE_DEDUP = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
l AS (SELECT doc_id, i AS li,
             array_to_string(ws[i*{_DEDUP_LINE_WORDS}+1 : (i+1)*{_DEDUP_LINE_WORDS}], ' ') AS line
      FROM (SELECT doc_id, ws,
                   UNNEST(range(cast(ceil(len(ws) / {_DEDUP_LINE_WORDS}.0) AS BIGINT))) AS i
            FROM d) x),
r AS (SELECT doc_id, li,
             row_number() OVER (PARTITION BY line ORDER BY doc_id, li) AS rk
      FROM l)
SELECT doc_id, count(*)::BIGINT AS n_lines,
       sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END)::BIGINT AS n_removed,
       round(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) / count(*), 6) AS removed_frac
FROM r GROUP BY doc_id
"""


# ---------- PII scrubbing --------------------------------------------------
#
# The corpus has no real PII, so deterministic contacts are PLANTED from
# doc_id (identically in both engines) and the gate checks the scrubber:
# regex detection counts + the scrubbed text's md5. Patterns are written
# in the common Java-regex/RE2 subset so both engines compile them
# identically.

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+1-[0-9]{3}-[0-9]{4}"
_PII_IP = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"


def q_pii_scrub(spark, sf_dir):
    """PII scrubbing as a 100-TB pipeline runs it: detect + count + replace
    emails / phone numbers / IPv4 addresses with typed placeholders in one
    JVM-side pass (regexp_count + chained regexp_replace — no Python, no
    shuffle). Deterministic planted contacts give every rule real
    positives; docs with doc_id%3==0 carry a second email so counts vary.
    The scrubbed text itself is compared via md5 (identical hex on both
    engines), so the gate verifies the full replacement output, not just
    the counts."""
    d = _doc(spark, sf_dir, "documents")
    pii = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit(" cc admin"), F.col("doc_id").cast("string"),
                        F.lit("@corp.example.org"))).otherwise(F.lit("")),
        F.lit(" tel +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"),
        F.lit("."), ((F.col("doc_id") * 7) % 256).cast("string"),
    )
    t = d.select("doc_id", pii.alias("pt"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("pt"), F.lit(_PII_EMAIL), F.lit("<EMAIL>")),
            F.lit(_PII_PHONE), F.lit("<PHONE>")),
        F.lit(_PII_IP), F.lit("<IP>"))
    return t.select(
        "doc_id",
        F.regexp_count(F.col("pt"), F.lit(_PII_EMAIL)).cast("long").alias("n_emails"),
        F.regexp_count(F.col("pt"), F.lit(_PII_PHONE)).cast("long").alias("n_phones"),
        F.regexp_count(F.col("pt"), F.lit(_PII_IP)).cast("long").alias("n_ips"),
        F.length(scrubbed).cast("long").alias("clean_len"),
        F.md5(scrubbed.cast("binary")).alias("clean_md5"),
    )


_PII_TEXT_SQL = """
  (text || ' contact user' || doc_id::VARCHAR || '@example.com'
   || CASE WHEN doc_id % 3 = 0
           THEN ' cc admin' || doc_id::VARCHAR || '@corp.example.org'
           ELSE '' END
   || ' tel +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
   || ' from 10.0.' || (doc_id % 256)::VARCHAR || '.' || ((doc_id * 7) % 256)::VARCHAR)
"""

SQL_PII_SCRUB = f"""
WITH t AS (SELECT doc_id, {_PII_TEXT_SQL} AS pt FROM documents),
s AS (SELECT doc_id, pt,
             regexp_replace(
               regexp_replace(
                 regexp_replace(pt, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                 '\\+1-[0-9]{{3}}-[0-9]{{4}}', '<PHONE>', 'g'),
               '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b',
               '<IP>', 'g') AS clean
      FROM t)
SELECT doc_id,
       len(regexp_extract_all(pt, '{_PII_EMAIL}'))::BIGINT AS n_emails,
       len(regexp_extract_all(pt, '\\+1-[0-9]{{3}}-[0-9]{{4}}'))::BIGINT AS n_phones,
       len(regexp_extract_all(pt,
           '\\b[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\b'))::BIGINT AS n_ips,
       length(clean)::BIGINT AS clean_len,
       md5(clean) AS clean_md5
FROM s
"""


# ---------- benchmark decontamination --------------------------------------

_DECONTAM_N = 8
_BENCH_MOD = 50  # doc_id % 50 == 0 plays the held-out benchmark set (~2%)


def q_decontam(spark, sf_dir):
    """Benchmark decontamination (the GPT-3/PaLM eval-overlap rule): flag
    every training document sharing at least one exact 8-gram with the
    held-out benchmark set (here the deterministic doc_id%50==0 slice).
    Emits (doc_id, n_hits, contaminated) for every non-benchmark doc,
    zero-hit rows included.

    Scale shape: benchmark sets are tiny next to the corpus, so the
    benchmark's distinct gram hashes are BROADCAST and the corpus side
    streams map-side — no corpus-wide shuffle at all (the per-doc hit
    count is a partial agg over the scan). Grams travel as xxhash64 ids;
    the DuckDB twin joins literal grams, validating the shortcut."""
    n = _DECONTAM_N
    d = _doc(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    gram_expr = F.expr(
        f"transform(sequence(0, size(ws)-{n}),"
        f" i -> xxhash64(array_join(slice(ws, i+1, {n}), ' ')))"
    )
    is_bench = F.col("doc_id") % _BENCH_MOD == 0
    bench_gh = (
        d.filter(is_bench & (F.size("ws") >= n))
        .select(F.explode(gram_expr).alias("gh")).distinct()
    )
    corp = d.filter(~is_bench)
    corp_grams = corp.filter(F.size("ws") >= n).select(
        "doc_id", F.explode(gram_expr).alias("gh")
    )
    hits = (
        corp_grams.join(F.broadcast(bench_gh), "gh")
        .groupBy("doc_id").agg(F.count("*").alias("h"))
    )
    return (
        corp.select("doc_id").join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("n_hits"),
            (F.coalesce(F.col("h"), F.lit(0)) > 0).cast("long").alias("contaminated"),
        )
    )


SQL_DECONTAM = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT doc_id, array_to_string(ws[i:i+{_DECONTAM_N - 1}], ' ') AS gram
      FROM (SELECT doc_id, ws, UNNEST(range(1, len(ws) - {_DECONTAM_N} + 2)) AS i
            FROM d WHERE len(ws) >= {_DECONTAM_N}) x),
b AS (SELECT DISTINCT gram FROM g WHERE doc_id % {_BENCH_MOD} = 0),
c AS (SELECT doc_id, gram FROM g WHERE doc_id % {_BENCH_MOD} <> 0),
h AS (SELECT c.doc_id, count(*) AS h FROM c JOIN b USING (gram) GROUP BY c.doc_id)
SELECT d.doc_id, coalesce(h.h, 0)::BIGINT AS n_hits,
       (CASE WHEN coalesce(h.h, 0) > 0 THEN 1 ELSE 0 END)::BIGINT AS contaminated
FROM (SELECT doc_id FROM d WHERE doc_id % {_BENCH_MOD} <> 0) d
LEFT JOIN h USING (doc_id)
"""


# ---------- deterministic stratified sampling ------------------------------

# per-language target rates as 4-hex-digit md5-prefix thresholds
# (rate = threshold / 0x10000): en is downsampled to 1/16, everything
# else kept at 1/4 — the "rebalance the dominant language" mixture step.
_STRATA_THRESH = {"en": "1000"}
_STRATA_DEFAULT = "4000"


def q_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling for corpus mixing: each language
    stratum keeps a fixed fraction of documents, decided by comparing the
    first 4 hex digits of md5(doc_id) against the stratum's threshold —
    no RNG, no sort, reproducible on any cluster layout and stable under
    re-partitioning (the property Bernoulli samplers lose the moment the
    partitioning changes). Pure per-row JVM expressions; at 100 TB this
    is a scan with a filter, nothing else. Both engines compute the same
    md5 hex over the same UTF-8 string, so the twin is exact."""
    d = _doc(spark, sf_dir, "documents")
    h4 = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 4)
    thresh = F.when(
        F.col("lang") == "en", F.lit(_STRATA_THRESH["en"])
    ).otherwise(F.lit(_STRATA_DEFAULT))
    return (
        d.select("doc_id", "lang", h4.alias("h4"), thresh.alias("thresh"))
        .filter(F.col("h4") < F.col("thresh"))
        .select("doc_id", "lang", "h4")
    )


SQL_STRATIFIED_SAMPLE = f"""
SELECT doc_id, lang, substr(md5(doc_id::VARCHAR), 1, 4) AS h4
FROM documents
WHERE substr(md5(doc_id::VARCHAR), 1, 4) <
      CASE WHEN lang = 'en' THEN '{_STRATA_THRESH["en"]}' ELSE '{_STRATA_DEFAULT}' END
"""


_WSAMPLE_K = 32


def q_weighted_sample(spark, sf_dir):
    """Deterministic WEIGHTED sampling without replacement (Efraimidis &
    Spirakis A-ES): each document draws u in (0, 1] from md5(doc_id)
    (RNG-free, partition-stable — the stratified_sample discipline) and
    the k largest keys u^(1/w) win, computed as ln(u)/w to dodge pow's
    float noise (monotone-equivalent). Weight = token count, so long
    documents are proportionally likelier — the mixture-sampling shape a
    training pipeline needs when doc weights come from quality scores or
    domain multipliers. Plan: one scan + TakeOrderedAndProject (top-k
    per partition then k-way driver merge, never a global sort). Float
    twin discipline: the emitted key is rounded to 6dp; selection order
    uses the raw double with doc_id tie-break (keys are continuous md5
    uniforms, so cross-engine ulp noise cannot reorder distinct keys)."""
    d = _doc(spark, sf_dir, "documents")
    w = F.size(F.split("text", " ")).cast("double")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("ws:"), F.col("doc_id").cast("string"))
                  .cast("binary")), 1, 15), 16, 10).cast("long")
    u = (h + F.lit(1)).cast("double") / F.pow(F.lit(2.0), F.lit(60))
    return (
        d.select("doc_id", w.cast("long").alias("weight"),
                 (F.log(u) / w).alias("k"))
        .orderBy(F.desc("k"), "doc_id").limit(_WSAMPLE_K)
        .select("doc_id", "weight", F.round("k", 6).alias("sample_key"))
    )


SQL_WEIGHTED_SAMPLE = f"""
SELECT doc_id, weight, round(k, 6) AS sample_key FROM (
  SELECT doc_id, len(string_split(text, ' '))::BIGINT AS weight,
         ln((('0x' || substr(md5('ws:' || doc_id::VARCHAR), 1, 15))::BIGINT
             + 1)::DOUBLE / power(2.0, 60))
           / len(string_split(text, ' ')) AS k
  FROM documents) t
ORDER BY k DESC, doc_id LIMIT {_WSAMPLE_K}
"""


# ---------- lexical retrieval: BM25 top-k + tf-idf distinctive terms -------

# Okapi BM25 with the Lucene idf variant ln(1 + (N-df+0.5)/(df+0.5)),
# k1=1.2, b=0.75 (Robertson et al.; the default every search engine ships).
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_QUERIES = [
    (0, ("spark", "window", "merge")),
    (1, ("join", "filter", "scan")),
    (2, ("stream", "batch", "hash")),
]
_BM25_TOPK = 10


def q_bm25_topk(spark, sf_dir):
    """BM25 lexical top-k retrieval over the documents corpus. Scale
    shape: document lengths and avgdl come from a JVM-side
    ``size(split(...))`` with NO explode (a scan, then a
    1-row aggregate that broadcasts); the token stream is semi-joined
    against the broadcast query-term table BEFORE any aggregation, so the
    only shuffle carries (q_id, term, doc_id) for MATCHING tokens — at
    100 TB that is |queries|·|postings|, not the corpus. df per query term
    falls out of the tf table (vocabulary-sized after map-side partial
    agg) and broadcasts back. Ranking uses the 6dp-rounded score with a
    doc_id tie-break so both engines order identically."""
    d = _doc(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws"))
    dls = d.select("doc_id", F.size("ws").cast("long").alias("dl"))
    stats = dls.agg(
        (F.sum("dl") / F.count("*")).alias("avgdl"),
        F.count("*").cast("double").alias("n_docs"))
    qterms = spark.createDataFrame(
        [(q, t) for q, ts in _BM25_QUERIES for t in ts],
        "q_id int, term string")
    tf = (
        d.select("doc_id", F.explode("ws").alias("term"))
        .join(F.broadcast(qterms), "term")
        .groupBy("q_id", "term", "doc_id")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df_ = tf.groupBy("q_id", "term").agg(
        F.count("*").cast("double").alias("df"))
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    tfn = (F.col("tf") * (_BM25_K1 + 1)
           / (F.col("tf") + _BM25_K1
              * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))))
    scored = (
        tf.join(F.broadcast(df_), ["q_id", "term"])
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("q_id", "doc_id")
        .agg(F.round(F.sum(idf * tfn), 6).alias("score"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score"), "doc_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _BM25_TOPK)
        .select(F.col("q_id").cast("long").alias("q_id"), "doc_id",
                "score", F.col("rk").cast("long").alias("rk"))
    )


_BM25_QT_VALUES = ", ".join(
    f"({q}, '{t}')" for q, ts in _BM25_QUERIES for t in ts)

SQL_BM25_TOPK = f"""
WITH qt(q_id, term) AS (VALUES {_BM25_QT_VALUES}),
d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
dl AS (SELECT doc_id, len(ws)::BIGINT AS dl FROM d),
st AS (SELECT sum(dl) / count(*) AS avgdl, count(*)::DOUBLE AS n_docs
       FROM dl),
tf AS (SELECT q_id, term, doc_id, count(*)::DOUBLE AS tf
       FROM (SELECT doc_id, unnest(ws) AS term FROM d) tok
       JOIN qt USING (term) GROUP BY 1, 2, 3),
df AS (SELECT q_id, term, count(*)::DOUBLE AS df FROM tf GROUP BY 1, 2),
sc AS (SELECT q_id, doc_id,
              round(sum(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                        * tf * ({_BM25_K1} + 1)
                        / (tf + {_BM25_K1} * (1 - {_BM25_B}
                           + {_BM25_B} * dl / avgdl))), 6) AS score
       FROM tf JOIN df USING (q_id, term) JOIN dl USING (doc_id), st
       GROUP BY 1, 2),
r AS (SELECT q_id::BIGINT AS q_id, doc_id, score,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY score DESC, doc_id)::BIGINT AS rk
      FROM sc)
SELECT q_id, doc_id, score, rk FROM r WHERE rk <= {_BM25_TOPK}
"""


_TFIDF_TOPK = 3


def q_tfidf_terms(spark, sf_dir):
    """Top-k distinctive terms per document by tf-idf — the "what is this
    document about" fingerprint a curation pipeline uses for topic
    bucketing. Corpus-wide df is inherent here (unlike BM25 there is no
    query set to pre-filter on), so the plan embraces exactly one wide
    shuffle: the (doc_id, term) tf aggregation, with map-side partial agg.
    The df table collapses to vocabulary size and joins back as a
    broadcast; doc length is a JVM ``size()`` with no explode. Per-doc
    ranking is on the 6dp-rounded score with the (pure-ASCII) term as
    tie-break — identical in both engines' binary collation."""
    d = _doc(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws"))
    dls = d.select("doc_id", F.size("ws").cast("double").alias("dl"))
    n_docs = d.agg(F.count("*").cast("double").alias("n_docs"))
    tf = (
        d.select("doc_id", F.explode("ws").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    sc = (
        tf.join(F.broadcast(df_), "term")
        .join(dls, "doc_id")
        .crossJoin(F.broadcast(n_docs))
        .select("doc_id", "term",
                F.round(F.col("tf") / F.col("dl")
                        * F.log(F.col("n_docs") / F.col("df")), 6)
                .alias("tfidf"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        sc.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _TFIDF_TOPK)
        .select("doc_id", "term", "tfidf",
                F.col("rk").cast("long").alias("rk"))
    )


SQL_TFIDF_TERMS = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
dl AS (SELECT doc_id, len(ws)::DOUBLE AS dl FROM d),
n AS (SELECT count(*)::DOUBLE AS n_docs FROM d),
tf AS (SELECT doc_id, term, count(*)::DOUBLE AS tf
       FROM (SELECT doc_id, unnest(ws) AS term FROM d) tok GROUP BY 1, 2),
df AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
sc AS (SELECT doc_id, term, round(tf / dl * ln(n_docs / df), 6) AS tfidf
       FROM tf JOIN df USING (term) JOIN dl USING (doc_id), n),
r AS (SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term)::BIGINT AS rk
      FROM sc)
SELECT doc_id, term, tfidf, rk FROM r WHERE rk <= {_TFIDF_TOPK}
"""


# ---------- training-example assembly: chunking + sequence packing ---------
#
# The two layout steps between "curated corpus" and "training batches":
# sliding-window chunking (long docs → overlapping context-length pieces)
# and concat-and-split packing (short docs → dense fixed-size bins).

_CHUNK_LEN = 32     # tokens per chunk (a stand-in for the model context)
_CHUNK_STRIDE = 24  # sliding-window stride → 8-token overlap between chunks


def q_doc_chunk(spark, sf_dir):
    """Sliding-window document chunking — the "split long documents into
    overlapping context-length pieces" step every pretraining pipeline runs
    (BERT's doc_stride, GPT-style context windows). Each document yields
    ``1 + ceil((n_words - L) / stride)`` chunks of up to L=32 words at
    stride 24; the gate compares the chunk *content* via md5 of the joined
    words, not just the geometry.

    Scale shape: one JVM transform/posexplode per row — zero shuffle
    beyond the scan; output size is corpus × (1/stride) rows. The chunk
    text never leaves the row (only its md5 does)."""
    L, s = _CHUNK_LEN, _CHUNK_STRIDE
    d = _doc(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws")
    )
    n_chunks = (f"CASE WHEN size(ws) <= {L} THEN 1 "
                f"ELSE 1 + cast(ceil((size(ws) - {L}) / {s}.0) as int) END")
    chunks = d.select(
        "doc_id", F.size("ws").cast("long").alias("nw"),
        F.posexplode(F.expr(
            f"transform(sequence(0, ({n_chunks}) - 1),"
            f" i -> md5(cast(array_join(slice(ws, i*{s}+1, {L}), ' ') as binary)))"
        )).alias("ci", "chunk_md5"),
    )
    return chunks.select(
        "doc_id",
        F.col("ci").cast("long").alias("chunk_idx"),
        (F.col("ci") * s).cast("long").alias("start_word"),
        F.least(F.lit(L), F.col("nw") - F.col("ci") * s)
        .cast("long").alias("n_words"),
        "chunk_md5",
    )


SQL_DOC_CHUNK = f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
c AS (SELECT doc_id, len(ws)::BIGINT AS nw, ws,
             CASE WHEN len(ws) <= {_CHUNK_LEN} THEN 1
                  ELSE 1 + cast(ceil((len(ws) - {_CHUNK_LEN}) / {_CHUNK_STRIDE}.0) AS BIGINT)
             END AS nch
      FROM d),
x AS (SELECT doc_id, nw, ws, UNNEST(range(nch)) AS i FROM c)
SELECT doc_id, i::BIGINT AS chunk_idx, (i * {_CHUNK_STRIDE})::BIGINT AS start_word,
       least({_CHUNK_LEN}, nw - i * {_CHUNK_STRIDE})::BIGINT AS n_words,
       md5(array_to_string(ws[i*{_CHUNK_STRIDE}+1 : i*{_CHUNK_STRIDE}+{_CHUNK_LEN}], ' ')) AS chunk_md5
FROM x
"""


_PACK_BIN = 256   # tokens per packed training example
_PACK_SHARDS = 8  # documents are packed within deterministic shards


def q_seq_pack(spark, sf_dir):
    """Concat-and-split sequence packing (the GPT-2/T5 "pack short documents
    densely into fixed-length examples" step): documents are laid end to
    end in deterministic (shard, doc_id) order and split into 256-token
    bins; each document reports its token offset and the bin span it lands
    in. Packing happens *within* ``doc_id % 8`` shards — the scale-safe
    form of the op, because a single global running offset would serialize
    the corpus through one partition, while per-shard offsets keep the
    window partitioned (at 100 TB the shard count scales with the cluster,
    and each shard's bins are independent training examples).

    Plan shape: one shuffle (the shard-partitioned window sort); all
    arithmetic is JVM-side integer math on the running sum."""
    d = _doc(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % _PACK_SHARDS).cast("long").alias("shard"),
        F.size(F.split("text", " ")).cast("long").alias("dl"),
    )
    w = (Window.partitionBy("shard").orderBy("doc_id")
         .rowsBetween(Window.unboundedPreceding, -1))
    off = F.coalesce(F.sum("dl").over(w), F.lit(0)).cast("long")
    out = d.select("doc_id", "shard", "dl", off.alias("tok_offset"))
    bin_first = F.floor(F.col("tok_offset") / _PACK_BIN).cast("long")
    bin_last = F.floor((F.col("tok_offset") + F.col("dl") - 1) / _PACK_BIN).cast("long")
    return out.select(
        "doc_id", "shard", "dl", "tok_offset",
        bin_first.alias("bin_first"), bin_last.alias("bin_last"),
        (bin_last - bin_first + 1).cast("long").alias("n_bins"),
    )


SQL_SEQ_PACK = f"""
WITH d AS (SELECT doc_id, (doc_id % {_PACK_SHARDS})::BIGINT AS shard,
                  len(string_split(text, ' '))::BIGINT AS dl
           FROM documents),
o AS (SELECT doc_id, shard, dl,
             coalesce(sum(dl) OVER (PARTITION BY shard ORDER BY doc_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND 1 PRECEDING), 0)::BIGINT AS tok_offset
      FROM d)
SELECT doc_id, shard, dl, tok_offset,
       (tok_offset // {_PACK_BIN})::BIGINT AS bin_first,
       ((tok_offset + dl - 1) // {_PACK_BIN})::BIGINT AS bin_last,
       ((tok_offset + dl - 1) // {_PACK_BIN} - tok_offset // {_PACK_BIN} + 1)::BIGINT AS n_bins
FROM o
"""


# ---------- CCNet-style unigram-LM quality buckets --------------------------


def q_lm_xent_bucket(spark, sf_dir):
    """CCNet's LM-perplexity quality partition (Wenzek et al. 2020) with the
    language model reduced to the corpus's own per-language unigram
    distribution: each document's cross-entropy is the tf-weighted mean of
    ``ln(total_lang_tokens / term_count)`` under its language's unigram
    model, and documents are ranked per language into head/middle/tail
    terciles (bucket 0/1/2, low entropy = head), CCNet's actual output.

    Scale shape: the per-(doc, term) tf aggregation is the one wide
    shuffle (map-side combinable — same as tfidf_terms); the per-language
    frequency and total tables collapse to vocabulary size / 5 rows and
    broadcast back. The tercile rank sorts within language partitions on
    the 6dp-rounded score with doc_id tie-breaks; the bucket index is
    exact integer arithmetic ``(3·(rk−1)) div n_docs``. At 100 TB the
    rank pass is replaced by broadcast percentile cutoffs from a first
    aggregation pass — same two-scan budget."""
    d = _doc(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split("text", " ").alias("ws"))
    tf = (
        d.select("doc_id", "lang", F.explode("ws").alias("term"))
        .groupBy("doc_id", "lang", "term")
        .agg(F.count("*").cast("double").alias("tf"))
    )
    freq = tf.groupBy("lang", "term").agg(F.sum("tf").alias("cnt"))
    tot = freq.groupBy("lang").agg(F.sum("cnt").alias("tot"))
    x = (
        tf.join(F.broadcast(freq), ["lang", "term"])
        .join(F.broadcast(tot), "lang")
        .groupBy("doc_id", "lang")
        .agg(
            F.round(F.sum(F.col("tf") * F.log(F.col("tot") / F.col("cnt")))
                    / F.sum("tf"), 6).alias("xent"),
            F.sum("tf").cast("long").alias("n_tokens"),
        )
    )
    n = x.groupBy("lang").agg(F.count("*").cast("long").alias("n_docs"))
    w = Window.partitionBy("lang").orderBy("xent", "doc_id")
    r = (x.join(F.broadcast(n), "lang")
         .withColumn("rk", F.row_number().over(w)))
    return r.select(
        "doc_id", "lang", "xent", "n_tokens",
        F.expr("CAST((3 * (rk - 1)) DIV n_docs AS BIGINT)").alias("bucket"),
    )


SQL_LM_XENT_BUCKET = """
WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
             FROM documents),
tf AS (SELECT doc_id, lang, term, count(*)::DOUBLE AS tf
       FROM tok GROUP BY 1, 2, 3),
freq AS (SELECT lang, term, sum(tf) AS cnt FROM tf GROUP BY 1, 2),
tot AS (SELECT lang, sum(cnt) AS tot FROM freq GROUP BY 1),
x AS (SELECT t.doc_id, t.lang,
             round(sum(t.tf * ln(tot.tot / f.cnt)) / sum(t.tf), 6) AS xent,
             sum(t.tf)::BIGINT AS n_tokens
      FROM tf t JOIN freq f USING (lang, term) JOIN tot USING (lang)
      GROUP BY 1, 2),
n AS (SELECT lang, count(*)::BIGINT AS n_docs FROM x GROUP BY 1),
r AS (SELECT x.*, n.n_docs,
             row_number() OVER (PARTITION BY x.lang
                                ORDER BY x.xent, x.doc_id) AS rk
      FROM x JOIN n USING (lang))
SELECT doc_id, lang, xent, n_tokens,
       ((3 * (rk - 1)) // n_docs)::BIGINT AS bucket
FROM r
"""


# ---------- temperature-based source mixture weights ------------------------

_MIX_BUDGET = 1000.0  # documents drawn per mixing epoch (reporting unit)


def q_mixture_weights(spark, sf_dir):
    """Temperature-based language mixing (the α=0.5 sampling-weight rule
    from multilingual BERT / XLM-R / PaLM data recipes): each language's
    sampling probability is its document count raised to α=0.5, normalized
    — the dominant language (en holds ~40% of this corpus) is downweighted
    and the small ones upweighted relative to natural share. Emits per-
    language natural share, √n weight, normalized rate, and the expected
    documents per 1000-draw epoch.

    Scale shape: one map-side-combinable groupBy over the scan, then a
    1-row total broadcast back onto |langs| rows — at 100 TB this is a
    scan plus a constant-size reduction (α-temperature mixing never
    touches per-document state). sqrt is IEEE-identical across engines;
    all quotients are 6dp-rounded."""
    s = _doc(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    t = s.agg(
        F.sum("n_docs").cast("double").alias("tot_docs"),
        F.sum(F.sqrt(F.col("n_docs").cast("double"))).alias("tot_w"),
    )
    wcol = F.sqrt(F.col("n_docs").cast("double"))
    return s.crossJoin(F.broadcast(t)).select(
        "lang", "n_docs", "n_tokens",
        F.round(F.col("n_docs") / F.col("tot_docs"), 6).alias("share"),
        F.round(wcol, 6).alias("weight"),
        F.round(wcol / F.col("tot_w"), 6).alias("rate"),
        F.round(wcol / F.col("tot_w") * _MIX_BUDGET, 6).alias("expected_docs"),
    )


SQL_MIXTURE_WEIGHTS = f"""
WITH s AS (SELECT lang, count(*)::BIGINT AS n_docs,
                  sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
           FROM documents GROUP BY 1),
t AS (SELECT sum(n_docs)::DOUBLE AS tot_docs,
             sum(sqrt(n_docs::DOUBLE)) AS tot_w FROM s)
SELECT lang, n_docs, n_tokens,
       round(n_docs / tot_docs, 6) AS share,
       round(sqrt(n_docs::DOUBLE), 6) AS weight,
       round(sqrt(n_docs::DOUBLE) / tot_w, 6) AS rate,
       round(sqrt(n_docs::DOUBLE) / tot_w * {_MIX_BUDGET}, 6) AS expected_docs
FROM s, t
"""


# ---------- tokenizer vocabulary construction + OOV accounting --------------

_VOCAB_V = 16  # vocabulary budget; the synthetic corpus has 31 distinct
               # terms, so the top-16 cut is non-degenerate (real OOV mass)


def q_vocab_build(spark, sf_dir):
    """Tokenizer vocabulary construction — the "count everything, keep the
    top-V by frequency, assign contiguous ids" step that precedes BPE/
    unigram training in every tokenizer pipeline. Emits the top-V terms
    with (term_id = frequency rank, occurrence count, document frequency).

    Scale shape: ONE wide shuffle (the map-side-combinable term
    aggregation, keyed on term — bounded by |vocab|, not corpus size);
    the top-V cut is a distributed TakeOrderedAndProject (orderBy+limit),
    so the global rank window that follows runs over ≤V rows — never the
    full term table (the classic single-partition-window trap)."""
    d = _doc(spark, sf_dir, "documents")
    counts = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("n_occ"),
             F.countDistinct("doc_id").cast("long").alias("n_docs"))
    )
    top = counts.orderBy(F.desc("n_occ"), "term").limit(_VOCAB_V)
    w = Window.orderBy(F.desc("n_occ"), "term")  # ≤V rows: bounded window
    return top.withColumn(
        "term_id", F.row_number().over(w).cast("long")
    ).select("term_id", "term", "n_occ", "n_docs")


SQL_VOCAB_BUILD = f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents),
c AS (SELECT term, count(*)::BIGINT AS n_occ,
             count(DISTINCT doc_id)::BIGINT AS n_docs
      FROM tok GROUP BY term),
r AS (SELECT term, n_occ, n_docs,
             row_number() OVER (ORDER BY n_occ DESC, term) AS term_id
      FROM c)
SELECT term_id::BIGINT AS term_id, term, n_occ, n_docs
FROM r WHERE term_id <= {_VOCAB_V}
"""


def q_oov_rate(spark, sf_dir):
    """Per-document out-of-vocabulary accounting against the top-V corpus
    vocabulary (the coverage statistic that drives the V-vs-OOV trade in
    tokenizer design): token count, OOV token count, OOV rate, and the
    count of *distinct* unknown terms per document.

    Scale shape: TWO corpus scans — the embedded vocabulary pass
    (collected to a V-row broadcast) and the (doc, term) tf aggregation
    (the wide shuffle); the vocabulary enters as a broadcast hash join
    (left join + null test — an anti-join would lose the in-vocab
    counts), so the per-doc rollup happens in the same stage that reads
    tf. A production pipeline materializes the vocabulary once as an
    artifact (it IS the tokenizer input) instead of recomputing it."""
    d = _doc(spark, sf_dir, "documents")
    tf = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").cast("long").alias("tf"))
    )
    vocab = q_vocab_build(spark, sf_dir).select("term", F.lit(1).alias("iv"))
    x = tf.join(F.broadcast(vocab), "term", "left")
    oov = F.when(F.col("iv").isNull(), F.col("tf")).otherwise(F.lit(0))
    return x.groupBy("doc_id").agg(
        F.sum("tf").cast("long").alias("n_tokens"),
        F.sum(oov).cast("long").alias("n_oov"),
        F.round(F.sum(oov) / F.sum("tf"), 6).alias("oov_rate"),
        F.sum(F.when(F.col("iv").isNull(), 1).otherwise(0))
        .cast("long").alias("n_oov_terms"),
    )


SQL_OOV_RATE = f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       FROM tok GROUP BY doc_id, term),
c AS (SELECT term, count(*) AS n_occ FROM tok GROUP BY term),
v AS (SELECT term FROM (SELECT term,
                               row_number() OVER (ORDER BY n_occ DESC, term)
                               AS term_id FROM c)
      WHERE term_id <= {_VOCAB_V}),
x AS (SELECT tf.doc_id, tf.tf,
             CASE WHEN v.term IS NULL THEN tf.tf ELSE 0 END AS oov,
             CASE WHEN v.term IS NULL THEN 1 ELSE 0 END AS oov_term
      FROM tf LEFT JOIN v ON v.term = tf.term)
SELECT doc_id, sum(tf)::BIGINT AS n_tokens, sum(oov)::BIGINT AS n_oov,
       round(sum(oov) / sum(tf), 6) AS oov_rate,
       sum(oov_term)::BIGINT AS n_oov_terms
FROM x GROUP BY doc_id
"""



# ---------- deterministic epoch shuffle (training-order generation) ---------

_SHUF_EPOCHS = 2
_SHUF_WORKERS = 8


def q_epoch_shuffle(spark, sf_dir):
    """Deterministic per-epoch training order — the "reshuffle the corpus
    every epoch, reproducibly, with no RNG state" step of a distributed
    data loader: each (epoch, document) gets an md5 shuffle key, a worker
    shard (key-hash mod W), and its position within that shard.

    Scale shape: there is deliberately NO global position column — a
    corpus-wide rank per epoch would be a single-partition window (the
    global-cumsum serialization seq_pack also avoids); real loaders
    consume per-worker shards, so the only sort is the per-(epoch, worker)
    window — W×epochs independent partitions. The shard assignment is a
    pure scan expression (integer md5-prefix math, RNG-free and
    partition-stable like stratified_sample)."""
    d = _doc(spark, sf_dir, "documents").select("doc_id")
    ep = d.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(_SHUF_EPOCHS - 1)))
        .alias("epoch"),
    )
    key = F.md5(F.concat_ws(":", F.col("epoch"), F.col("doc_id")))
    keyed = ep.select(
        "doc_id", F.col("epoch").cast("long").alias("epoch"),
        key.alias("shuffle_key"),
        (F.conv(F.substring(key, 1, 8), 16, 10).cast("long")
         % _SHUF_WORKERS).alias("worker"),
    )
    w = Window.partitionBy("epoch", "worker").orderBy("shuffle_key", "doc_id")
    return keyed.select(
        "epoch", "worker", "doc_id", "shuffle_key",
        F.row_number().over(w).cast("long").alias("pos_in_shard"),
    )


SQL_EPOCH_SHUFFLE = f"""
WITH ep AS (SELECT doc_id, UNNEST(range({_SHUF_EPOCHS})) AS epoch
            FROM documents),
k AS (SELECT doc_id, epoch::BIGINT AS epoch,
             md5(epoch || ':' || doc_id) AS shuffle_key
      FROM ep),
kw AS (SELECT doc_id, epoch, shuffle_key,
              (('0x' || substring(shuffle_key, 1, 8))::BIGINT
               % {_SHUF_WORKERS}) AS worker
       FROM k)
SELECT epoch, worker, doc_id, shuffle_key,
       row_number() OVER (PARTITION BY epoch, worker
                          ORDER BY shuffle_key, doc_id)::BIGINT AS pos_in_shard
FROM kw
"""



# ---------- BPE merge training (Sennrich et al. 2016) ----------------------


def q_bpe_train(spark, sf_dir):
    """Distributed BPE tokenizer training: the ordered merge table learned
    from the pinned deterministic corpus (bpe.py — the driver's parquet
    varies by sf while oracle_sql() is one static string, so like the kg_*
    rows the query synthesizes its own input). Plan shape per bpe.py: one
    corpus→word-frequency collapse, then per merge one map-side-combined
    pair-count agg over the vocab-sized table + a TakeOrderedAndProject
    top-1 + a JVM F.aggregate fold; lineage localCheckpointed. The twin is
    the textbook Counter-over-tuples reference materialized as VALUES."""
    from .bpe import N_BPE_MERGES, bpe_corpus, bpe_train_df

    docs = spark.createDataFrame(bpe_corpus(), "doc_id int, text string")
    return bpe_train_df(spark, docs, N_BPE_MERGES)


def sql_bpe_train() -> str:
    from .bpe import N_BPE_MERGES, bpe_corpus, bpe_merges_reference
    from .oracle_values import _values_sql

    merges = bpe_merges_reference([t for _, t in bpe_corpus()], N_BPE_MERGES)
    return _values_sql(
        merges,
        ["rank", "left", "right", "pair_count"],
        ["INTEGER", "VARCHAR", "VARCHAR", "BIGINT"],
    )


def q_bpe_encode(spark, sf_dir):
    """BPE segmentation of the pinned corpus using merges the DISTRIBUTED
    trainer just learned — the gate verifies train∘encode composed: Spark
    learns the table via bpe_train_merges then encodes with chained JVM
    folds (zero shuffle), while the twin is the pure-python reference
    trainer + scan-and-skip encoder materialized as VALUES."""
    from .bpe import N_BPE_MERGES, bpe_corpus, bpe_encode_df, bpe_train_merges

    docs = spark.createDataFrame(bpe_corpus(), "doc_id int, text string")
    merges = bpe_train_merges(docs, N_BPE_MERGES)
    return bpe_encode_df(docs, merges)


def sql_bpe_encode() -> str:
    from .bpe import (N_BPE_MERGES, bpe_corpus, bpe_encode_reference,
                      bpe_merges_reference)
    from .oracle_values import _values_sql

    corpus = bpe_corpus()
    merges = bpe_merges_reference([t for _, t in corpus], N_BPE_MERGES)
    rows = bpe_encode_reference(corpus, merges)
    return _values_sql(
        rows,
        ["doc_id", "word_pos", "tok_pos", "token"],
        ["INTEGER", "INTEGER", "INTEGER", "VARCHAR"],
    )


# ---------- unigram-LM tokenizer training (Kudo 2018) -----------------------


def q_unigram_train(spark, sf_dir):
    """Distributed unigram-LM (SentencePiece-style) tokenizer training:
    the piece table learned from the pinned deterministic corpus
    (unigram.py — like bpe_train, the query synthesizes its own input
    because oracle_sql() is one static string). Plan shape per
    unigram.py: one corpus→word-frequency collapse, a JVM substring-seed
    explode, then per EM round one Arrow-batched Viterbi over the
    vocab-sized word table + one map-side-combined count agg. The twin is
    the independent memoized-recursion reference as VALUES; both sides
    score with exact Fractions, so the gate is exact equality."""
    from .bpe import bpe_corpus
    from .unigram import unigram_train_df

    docs = spark.createDataFrame(bpe_corpus(), "doc_id int, text string")
    return unigram_train_df(spark, docs)


def sql_unigram_train() -> str:
    import math

    from .bpe import bpe_corpus
    from .oracle_values import _values_sql
    from .unigram import unigram_train_reference

    pieces = unigram_train_reference([t for _, t in bpe_corpus()])
    t = sum(c for _, _, c in pieces)
    rows = [(r, p, c, round(math.log(c / t), 6)) for r, p, c in pieces]
    return _values_sql(
        rows,
        ["rank", "piece", "cnt", "logprob"],
        ["INTEGER", "VARCHAR", "BIGINT", "DOUBLE"],
    )


def q_unigram_encode(spark, sf_dir):
    """Viterbi segmentation of the pinned corpus under pieces the
    DISTRIBUTED trainer just learned — train∘encode composed, like
    bpe_encode. Encode is the dictionary-join shape: distinct words get
    one vocab-sized Viterbi pass, the (word → pieces) dictionary
    broadcasts back onto word positions, and the corpus-scale side is
    scan + posexplode with zero python."""
    from .bpe import bpe_corpus
    from .unigram import unigram_encode_df, unigram_train_pieces

    docs = spark.createDataFrame(bpe_corpus(), "doc_id int, text string")
    pieces = unigram_train_pieces(docs)
    return unigram_encode_df(docs, pieces)


def sql_unigram_encode() -> str:
    from .bpe import bpe_corpus
    from .oracle_values import _values_sql
    from .unigram import unigram_encode_reference, unigram_train_reference

    corpus = bpe_corpus()
    pieces = unigram_train_reference([t for _, t in corpus])
    rows = unigram_encode_reference(corpus, pieces)
    return _values_sql(
        rows,
        ["doc_id", "word_pos", "tok_pos", "piece"],
        ["INTEGER", "INTEGER", "INTEGER", "VARCHAR"],
    )


# ---------- PMI collocations (Church & Hanks 1990) --------------------------

PMI_MIN_COUNT = 5   # collocation support floor: pairs seen fewer times are
                    # PMI noise (the classic sparse-count pathology)


def _bigrams(spark, sf_dir):
    d = _doc(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("ws"))
    b = F.expr(
        "transform(sequence(1, size(ws) - 1),"
        " i -> struct(element_at(ws, i) AS w1, element_at(ws, i + 1) AS w2))")
    return (d.filter(F.size("ws") >= 2)
            .select("doc_id", F.explode(b).alias("b"))
            .select("doc_id", "b.w1", "b.w2"))


_SQL_BIGRAMS = """
bg AS (SELECT doc_id, ws[i] AS w1, ws[i + 1] AS w2
       FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents) d,
            LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) g
       WHERE len(ws) >= 2)"""


def q_pmi_pairs(spark, sf_dir):
    """Pointwise mutual information over adjacent token pairs — the
    collocation detector (Church & Hanks 1990) a corpus-analysis pipeline
    runs to find multiword expressions worth protecting from tokenization
    and dedup shingling. pmi = ln(P(w1,w2) / (P(w1)·P(w2))) with pair
    probabilities over bigram positions and unigram probabilities over
    all tokens; pairs below PMI_MIN_COUNT are dropped (the standard
    sparse-count guard).

    Scale shape: two map-side-combinable counts (pairs, unigrams); the
    pair table then joins the vocab-sized unigram table on w1 and w2 —
    at 100 TB the unigram side is broadcastable (vocabulary ≪ corpus)
    and the two 1-row totals are literal broadcasts. The PMI ratio is
    evaluated in doubles with one fixed association order, so both
    engines round the same IEEE value to 6dp (no BIGINT product —
    cp·T² overflows 64 bits at petabyte token counts)."""
    bi = _bigrams(spark, sf_dir)
    cp = bi.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("pair_cnt"))
    toks = _doc(spark, sf_dir, "documents").select(
        F.explode(F.split("text", " ")).alias("w"))
    cu = toks.groupBy("w").agg(F.count("*").cast("long").alias("cnt"))
    t = cu.agg(F.sum("cnt").cast("long").alias("t"))
    p = bi.agg(F.count("*").cast("long").alias("p"))
    pmi = F.round(
        F.log((F.col("pair_cnt").cast("double") * F.col("t") * F.col("t"))
              / (F.col("p").cast("double") * F.col("c1") * F.col("c2"))), 6)
    return (
        cp.filter(F.col("pair_cnt") >= PMI_MIN_COUNT)
        .join(cu.select(F.col("w").alias("w1"), F.col("cnt").alias("c1")),
              "w1")
        .join(cu.select(F.col("w").alias("w2"), F.col("cnt").alias("c2")),
              "w2")
        .crossJoin(F.broadcast(t)).crossJoin(F.broadcast(p))
        .select("w1", "w2", "pair_cnt",
                F.col("c1").cast("long").alias("c1"),
                F.col("c2").cast("long").alias("c2"),
                pmi.alias("pmi"))
    )


SQL_PMI_PAIRS = f"""
WITH {_SQL_BIGRAMS},
cp AS (SELECT w1, w2, count(*)::BIGINT AS pair_cnt FROM bg GROUP BY 1, 2),
toks AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
cu AS (SELECT w, count(*)::BIGINT AS cnt FROM toks GROUP BY 1),
t AS (SELECT sum(cnt)::BIGINT AS t FROM cu),
p AS (SELECT count(*)::BIGINT AS p FROM bg)
SELECT cp.w1, cp.w2, cp.pair_cnt,
       u1.cnt::BIGINT AS c1, u2.cnt::BIGINT AS c2,
       round(ln((cp.pair_cnt::DOUBLE * t.t * t.t)
                / (p.p::DOUBLE * u1.cnt * u2.cnt)), 6) AS pmi
FROM cp
JOIN cu u1 ON u1.w = cp.w1
JOIN cu u2 ON u2.w = cp.w2, t, p
WHERE cp.pair_cnt >= {PMI_MIN_COUNT}
"""


# ---------- bigram LM cross-entropy (add-one smoothing) ---------------------


def q_bigram_lm_ce(spark, sf_dir):
    """Per-document cross-entropy under an add-one-smoothed bigram LM
    trained on the corpus itself — the second-order companion to
    lm_xent_bucket's unigram CCNet score (a bigram model separates
    shuffled-token spam from fluent text, which unigram statistics
    cannot). P(w2|w1) = (c(w1,w2)+1) / (c(w1·)+V) with context counts
    over bigram-left positions and V the corpus vocabulary size; each
    document scores the tf-weighted mean of -ln P over its bigrams.

    Scale shape: same as lm_xent_bucket — the per-(doc, bigram) tf agg is
    the one wide shuffle; the model tables (pair counts, context counts)
    are vocabulary-scale and join back hashed (broadcastable at 100 TB);
    V and nothing else crosses as a literal. Docs with fewer than 2
    tokens carry no bigram and are excluded in both engines."""
    bi = _bigrams(spark, sf_dir)
    c2 = bi.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c2"))
    c1 = bi.groupBy("w1").agg(F.count("*").cast("long").alias("c1"))
    v = (_doc(spark, sf_dir, "documents")
         .select(F.explode(F.split("text", " ")).alias("w"))
         .agg(F.countDistinct("w").cast("long").alias("v")))
    tf = bi.groupBy("doc_id", "w1", "w2").agg(
        F.count("*").cast("double").alias("tf"))
    lp = F.log((F.col("c2") + 1).cast("double") / (F.col("c1") + F.col("v")))
    return (
        tf.join(c2, ["w1", "w2"]).join(c1, "w1").crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(F.round(-F.sum(F.col("tf") * lp) / F.sum("tf"), 6).alias("ce"),
             F.sum("tf").cast("long").alias("n_bigrams"))
        .select("doc_id", "n_bigrams", "ce")
    )


SQL_BIGRAM_LM_CE = f"""
WITH {_SQL_BIGRAMS},
c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, count(*)::BIGINT AS c1 FROM bg GROUP BY 1),
v AS (SELECT count(DISTINCT w)::BIGINT AS v
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)),
tf AS (SELECT doc_id, w1, w2, count(*)::DOUBLE AS tf
       FROM bg GROUP BY 1, 2, 3)
SELECT tf.doc_id,
       sum(tf.tf)::BIGINT AS n_bigrams,
       round(-sum(tf.tf * ln((c2.c2 + 1)::DOUBLE / (c1.c1 + v.v)))
             / sum(tf.tf), 6) AS ce
FROM tf JOIN c2 USING (w1, w2) JOIN c1 USING (w1), v
GROUP BY tf.doc_id
"""


# ---------- Kneser-Ney smoothed bigram LM -----------------------------------

KN_DISCOUNT = 0.75   # the standard absolute discount (Chen & Goodman 1999)
KN_TOP = 32          # pinned output: top-32 bigrams by count


def q_kneser_ney_bigram(spark, sf_dir):
    """Interpolated Kneser-Ney bigram probabilities — the smoothing an
    n-gram LM-data pipeline actually ships (Chen & Goodman 1999): the
    discounted bigram estimate backs off to the CONTINUATION probability
    (how many distinct contexts a word follows) rather than raw unigram
    frequency. p_kn(w2|w1) = (max(c(w1,w2)−D, 0) + D·N1+(w1,•)·
    N1+(•,w2)/B) / c(w1,•), D = 0.75, B = distinct bigram types. Output
    pinned to the top-KN_TOP bigrams by count (ties on the words).

    Scale shape: everything derives from ONE hashed-bigram groupBy (the
    c2 table) — c1 / N1+(w1,•) / N1+(•,w2) / B are re-aggregations of
    that vocab-scale table, never second corpus scans; the scalar B is
    a literal broadcast and the final ranking is a TakeOrderedAndProject
    (top-K without a global sort). Float discipline: the formula is one
    fixed left-associated expression evaluated identically in both
    engines from exact integer counts, rounded at 6dp."""
    bi = _bigrams(spark, sf_dir)
    c2 = bi.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c2"))
    c1 = c2.groupBy("w1").agg(F.sum("c2").cast("long").alias("c1"),
                              F.count("*").cast("long").alias("n1f"))
    n1c = c2.groupBy("w2").agg(F.count("*").cast("long").alias("n1c"))
    b = c2.agg(F.count("*").cast("long").alias("b"))
    p_kn = F.round(
        (F.greatest(F.col("c2") - KN_DISCOUNT, F.lit(0.0))
         + KN_DISCOUNT * F.col("n1f") * F.col("n1c") / F.col("b"))
        / F.col("c1"), 6)
    return (
        c2.join(c1, "w1").join(n1c, "w2").crossJoin(F.broadcast(b))
        .select("w1", "w2", "c2", "c1", "n1f", "n1c", p_kn.alias("p_kn"))
        .orderBy(F.desc("c2"), "w1", "w2")
        .limit(KN_TOP)
    )


SQL_KNESER_NEY = f"""
WITH {_SQL_BIGRAMS},
c2 AS (SELECT w1, w2, count(*)::BIGINT AS c2 FROM bg GROUP BY 1, 2),
c1 AS (SELECT w1, sum(c2)::BIGINT AS c1, count(*)::BIGINT AS n1f
       FROM c2 GROUP BY w1),
n1c AS (SELECT w2, count(*)::BIGINT AS n1c FROM c2 GROUP BY w2),
b AS (SELECT count(*)::BIGINT AS b FROM c2)
SELECT w1, w2, c2, c1, n1f, n1c,
       round((greatest(c2 - {KN_DISCOUNT}, 0.0)
              + {KN_DISCOUNT} * n1f * n1c / b) / c1, 6) AS p_kn
FROM c2 JOIN c1 USING (w1) JOIN n1c USING (w2), b
ORDER BY c2 DESC, w1, w2
LIMIT {KN_TOP}
"""


# ---------- corpus drift: pairwise Jensen-Shannon divergence ----------------


def q_jsd_drift(spark, sf_dir):
    """Pairwise Jensen–Shannon divergence between per-source unigram token
    distributions — the drift monitor a corpus-intake pipeline runs to
    catch a source whose content shifted (and the symmetric, bounded
    [0, ln 2] alternative to raw KL). Decomposition used here: terms
    present in both sources contribute 0.5·p·ln(2p/(p+q)) +
    0.5·q·ln(2q/(p+q)); terms private to one source contribute exactly
    0.5·ln 2 times their probability mass, which equals
    0.5·ln 2·(1−shared_mass) per side — so the one-sided tail needs NO
    anti-join, just the shared-mass sums the equi-join already produces.

    Scale shape: one map-side-combined (source, term) count, per-source
    totals broadcast back, then ONE term-keyed equi-self-join restricted
    to src_a < src_b (vocab-sized rows, never corpus-sized) and a per-pair
    map-side-combinable sum. Float discipline: the per-term contributions
    are O(1e-3) magnitudes summed into O(1) — both engines' arbitrary sum
    orders agree far below the 6dp round."""
    tf = (
        _doc(spark, sf_dir, "documents")
        .select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count("*").alias("cnt"))
    )
    tot = tf.groupBy("source").agg(F.sum("cnt").alias("tot"))
    p = tf.join(F.broadcast(tot), "source").select(
        "source", "term", (F.col("cnt") / F.col("tot")).alias("p"))
    a = p.select(F.col("source").alias("src_a"), "term",
                 F.col("p").alias("pa"))
    b = p.select(F.col("source").alias("src_b"), "term",
                 F.col("p").alias("pb"))
    both = a.join(b, "term").filter(F.col("src_a") < F.col("src_b"))
    contrib = (
        0.5 * F.col("pa") * F.log(2 * F.col("pa") / (F.col("pa") + F.col("pb")))
        + 0.5 * F.col("pb") * F.log(2 * F.col("pb") / (F.col("pa") + F.col("pb")))
    )
    ln2 = F.log(F.lit(2.0))
    return (
        both.groupBy("src_a", "src_b")
        .agg(F.sum(contrib).alias("jsd_both"),
             F.sum("pa").alias("sh_a"), F.sum("pb").alias("sh_b"),
             F.count("*").cast("long").alias("n_shared_terms"))
        .select(
            "src_a", "src_b", "n_shared_terms",
            F.round(F.col("jsd_both")
                    + 0.5 * ln2 * ((1 - F.col("sh_a")) + (1 - F.col("sh_b"))),
                    6).alias("jsd"),
        )
    )


SQL_JSD_DRIFT = """
WITH tf AS (SELECT source, unnest(string_split(text, ' ')) AS term
            FROM documents),
c AS (SELECT source, term, count(*)::BIGINT AS cnt FROM tf GROUP BY 1, 2),
tot AS (SELECT source, sum(cnt) AS tot FROM c GROUP BY 1),
p AS (SELECT c.source, c.term, c.cnt / tot.tot AS p
      FROM c JOIN tot USING (source)),
shared AS (SELECT a.source AS src_a, b.source AS src_b,
                  a.p AS pa, b.p AS pb
           FROM p a JOIN p b ON a.term = b.term AND a.source < b.source)
SELECT src_a, src_b, count(*)::BIGINT AS n_shared_terms,
       round(sum(0.5 * pa * ln(2 * pa / (pa + pb))
                 + 0.5 * pb * ln(2 * pb / (pa + pb)))
             + 0.5 * ln(2.0) * ((1 - sum(pa)) + (1 - sum(pb))), 6) AS jsd
FROM shared
GROUP BY 1, 2
"""


# ---------- Zipf power-law fit: corpus-health regression ---------------------

ZIPF_TOP = 64  # rank window: fit over the head of the distribution


def q_zipf_slope(spark, sf_dir):
    """OLS fit of ln(freq) on ln(rank) over the top-ZIPF_TOP terms — the
    Zipf power-law slope (≈ -1 for natural language; Piantadosi 2014).
    A corpus-intake monitor tracks it per source/snapshot: boilerplate
    and template spam flatten the head (slope → 0), dedup failures
    steepen it. Scale shape: ONE map-side-combined term count, a
    TakeOrderedAndProject top-R (no global sort), then the rank window
    and the closed-form OLS aggregate run over ≤R rows. Float
    discipline: both engines evaluate ln on identical BIGINT counts and
    aggregate ≤R O(1)-magnitude terms — agreement far below the 6dp
    round; slope uses the n·Σxy − Σx·Σy form so no mean subtraction
    order enters."""
    tf = (
        _doc(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(ZIPF_TOP)
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("term"))
    xy = tf.select(
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("cnt").cast("double")).alias("y"),
    )
    n = F.count("*").cast("double")
    agg = xy.agg(
        n.alias("n"), F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return agg.select(
        F.col("n").cast("long").alias("n_terms"),
        F.round(slope, 6).alias("slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6)
        .alias("intercept"),
    )


SQL_ZIPF_SLOPE = f"""
WITH tf AS (SELECT term, count(*)::BIGINT AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS term
                  FROM documents) t
            GROUP BY term
            ORDER BY cnt DESC, term LIMIT {ZIPF_TOP}),
xy AS (SELECT ln(row_number() OVER (ORDER BY cnt DESC, term)::DOUBLE) AS x,
              ln(cnt::DOUBLE) AS y
       FROM tf),
a AS (SELECT count(*)::DOUBLE AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM xy)
SELECT n::BIGINT AS n_terms,
       round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
         AS intercept
FROM a
"""


# ---------- WordPiece tokenizer (Schuster & Nakajima 2012; BERT) ------------


def q_wordpiece_train(spark, sf_dir):
    """Distributed WordPiece merge training on the pinned tokenizer
    corpus — BPE's plan shape with the likelihood-gain argmax
    cnt/(ca*cb) (wordpiece.py; the vocabulary algorithm behind the
    reference's own BertTokenizer, run_ner.py:556). Like bpe_train /
    unigram_train the query synthesizes its pinned input, so one static
    VALUES oracle is valid at every sf."""
    from .bpe import bpe_corpus
    from .wordpiece import wordpiece_train_merges

    docs = spark.createDataFrame(bpe_corpus(), "doc_id int, text string")
    merges = wordpiece_train_merges(docs)
    return spark.createDataFrame(
        merges,
        "rank int, left string, right string, merged string,"
        " pair_count bigint",
    )


def sql_wordpiece_train() -> str:
    from .bpe import bpe_corpus
    from .oracle_values import _values_sql
    from .wordpiece import wordpiece_train_reference

    rows = wordpiece_train_reference([t for _, t in bpe_corpus()])
    return _values_sql(
        rows,
        ["rank", "left", "right", "merged", "pair_count"],
        ["INTEGER", "VARCHAR", "VARCHAR", "VARCHAR", "BIGINT"],
    )


def q_wordpiece_encode(spark, sf_dir):
    """Greedy longest-match-first segmentation (BERT's WordPiece
    `tokenize`) of the pinned corpus under the vocabulary the DISTRIBUTED
    trainer just learned — train∘encode composed. Encode is the
    dictionary-join shape: distinct words get one bounded greedy scan,
    the (word → pieces) dictionary broadcasts onto word positions, and
    the corpus-scale side is scan + posexplode with zero python."""
    from .bpe import bpe_corpus
    from .wordpiece import (wordpiece_encode_df, wordpiece_train_merges,
                            wordpiece_vocab)

    docs = spark.createDataFrame(bpe_corpus(), "doc_id int, text string")
    merges = wordpiece_train_merges(docs)
    return wordpiece_encode_df(docs, wordpiece_vocab(docs, merges))


def sql_wordpiece_encode() -> str:
    from .bpe import bpe_corpus
    from .oracle_values import _values_sql
    from .wordpiece import (wordpiece_encode_reference,
                            wordpiece_train_reference,
                            wordpiece_vocab_reference)

    corpus = bpe_corpus()
    texts = [t for _, t in corpus]
    merges = wordpiece_train_reference(texts)
    vocab = wordpiece_vocab_reference(texts, merges)
    rows = wordpiece_encode_reference(corpus, vocab)
    return _values_sql(
        rows,
        ["doc_id", "word_pos", "tok_pos", "piece"],
        ["INTEGER", "INTEGER", "INTEGER", "VARCHAR"],
    )


DATAOPS_QUERIES = {
    "gopher_repetition": q_gopher_repetition,
    "c4_filters": q_c4_filters,
    "c4_line_dedup": q_c4_line_dedup,
    "pii_scrub": q_pii_scrub,
    "decontam": q_decontam,
    "stratified_sample": q_stratified_sample,
    "weighted_sample": q_weighted_sample,
    "bm25_topk": q_bm25_topk,
    "tfidf_terms": q_tfidf_terms,
    "doc_chunk": q_doc_chunk,
    "seq_pack": q_seq_pack,
    "lm_xent_bucket": q_lm_xent_bucket,
    "mixture_weights": q_mixture_weights,
    "vocab_build": q_vocab_build,
    "oov_rate": q_oov_rate,
    "epoch_shuffle": q_epoch_shuffle,
    "bpe_train": q_bpe_train,
    "bpe_encode": q_bpe_encode,
    "pmi_pairs": q_pmi_pairs,
    "bigram_lm_ce": q_bigram_lm_ce,
    "kneser_ney_bigram": q_kneser_ney_bigram,
    "unigram_train": q_unigram_train,
    "unigram_encode": q_unigram_encode,
    "jsd_drift": q_jsd_drift,
    "wordpiece_train": q_wordpiece_train,
    "wordpiece_encode": q_wordpiece_encode,
    "zipf_slope": q_zipf_slope,
}

DATAOPS_SQLS = {
    "gopher_repetition": SQL_GOPHER_REPETITION,
    "c4_filters": SQL_C4_FILTERS,
    "c4_line_dedup": SQL_C4_LINE_DEDUP,
    "pii_scrub": SQL_PII_SCRUB,
    "decontam": SQL_DECONTAM,
    "stratified_sample": SQL_STRATIFIED_SAMPLE,
    "weighted_sample": SQL_WEIGHTED_SAMPLE,
    "bm25_topk": SQL_BM25_TOPK,
    "tfidf_terms": SQL_TFIDF_TERMS,
    "doc_chunk": SQL_DOC_CHUNK,
    "seq_pack": SQL_SEQ_PACK,
    "lm_xent_bucket": SQL_LM_XENT_BUCKET,
    "mixture_weights": SQL_MIXTURE_WEIGHTS,
    "vocab_build": SQL_VOCAB_BUILD,
    "oov_rate": SQL_OOV_RATE,
    "epoch_shuffle": SQL_EPOCH_SHUFFLE,
    "bpe_train": sql_bpe_train(),
    "bpe_encode": sql_bpe_encode(),
    "pmi_pairs": SQL_PMI_PAIRS,
    "bigram_lm_ce": SQL_BIGRAM_LM_CE,
    "kneser_ney_bigram": SQL_KNESER_NEY,
    "unigram_train": sql_unigram_train(),
    "unigram_encode": sql_unigram_encode(),
    "jsd_drift": SQL_JSD_DRIFT,
    "wordpiece_train": sql_wordpiece_train(),
    "wordpiece_encode": sql_wordpiece_encode(),
    "zipf_slope": SQL_ZIPF_SLOPE,
}

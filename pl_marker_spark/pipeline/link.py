"""Stage 6 — entity linking: blocking + minhash-LSH candidate generation +
similarity scoring.

Not present in the reference (its pipeline stops at per-document triples);
mandated by the north rule. Design (SURVEY.md §2.6 "extensions"):

1. distinct (surface, type) strings from refined mentions
2. exact block: normalized surface equality (free edges)
3. minhash-LSH block: character 3-gram shingles → one portable hash per
   shingle + affine permutation minima → band keys → skew-salted self-join
   within (label, band, bucket) — all built-in JVM expressions (no Python
   in the hot path)
4. verify candidates with exact shingle-set Jaccard (array_intersect /
   array_union) and keep pairs ≥ threshold

Scales: the band self-join is the only quadratic risk and it is bounded per
(label, band, bucket) — explicitly salted above ``skew.salted_pair_join``'s
task bound (round-1 VERDICT item #7: AQE alone can miss extreme buckets).
A vocabulary small enough for the driver takes ``link_entities_local``
instead (the size gate is in ``graph.graph_from_surfaces``): the same
steps over numpy/pandas columns, with the same output rows.

Hashing is the portable md5 family (phash.py) so the single-process graph
oracle (oracle_graph.py) reproduces vocab ids, buckets and edges bit-for-bit
— this is what lets kg_graph_nodes/edges pass the driver's DuckDB gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..phash import phash64, phash64_py
from ..skew import salted_pair_join

N_HASHES = 12
N_BANDS = 4  # 3 rows per band
JACCARD_THRESHOLD = 0.6
LINK_P = 2_147_483_647
LINK_A = [phash64_py(f"a{i}", "lk") % (LINK_P - 1) + 1 for i in range(N_HASHES)]
LINK_B = [phash64_py(f"b{i}", "lk") % LINK_P for i in range(N_HASHES)]


def normalize_surface(col):
    return F.regexp_replace(F.lower(F.trim(col)), r"[^a-z0-9 ]", "")


def mention_surfaces(mentions_refined: DataFrame, turns_tok: DataFrame) -> DataFrame:
    """mentions + their surfaces, via a grouped join against per-conv word
    offsets (expression-level; the heavy lifting is one shuffle by conv)."""
    from pyspark.sql import Window

    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    turns = turns_tok.select(
        "conv_id", "turn_idx", "words",
        (F.sum(F.size("words")).over(w) - F.size("words")).alias("word_off"),
    )
    m = mentions_refined.alias("m").join(
        turns.alias("t"),
        (F.col("m.conv_id") == F.col("t.conv_id"))
        & (F.col("m.turn_idx") == F.col("t.turn_idx")),
    )
    return m.select(
        "m.conv_id", "m.turn_idx", "m.start", "m.end", "m.label", "m.score",
        F.array_join(
            F.slice(
                F.col("t.words"),
                F.col("m.start") - F.col("t.word_off") + 1,
                F.col("m.end") - F.col("m.start") + 1,
            ),
            " ",
        ).alias("surface"),
    )


def _shingles(col, k: int = 3):
    """Character k-gram shingle set, pure expressions."""
    padded = F.concat(F.lit("^"), col, F.lit("$"))
    n = F.greatest(F.length(padded) - (k - 1), F.lit(1))
    return F.array_distinct(
        F.transform(F.sequence(F.lit(1), n), lambda i: padded.substr(i, F.lit(k)))
    )


def build_vocab(surfaces: DataFrame) -> DataFrame:
    """Distinct (surface, type) vocabulary with stable ids + shingle sets."""
    return (
        surfaces.groupBy("label", "surface")
        .agg(F.count("*").alias("n_mentions"))
        .withColumn("norm", normalize_surface("surface"))
        .withColumn(
            "sid",
            phash64(F.concat_ws("\x1f", F.col("label"), F.col("surface")), "sid"),
        )
        .withColumn("shingles", _shingles(F.col("norm")))
    )


def link_entities(vocab: DataFrame) -> DataFrame:
    """entity vocab -> similarity edges (src, dst, sim).

    MinHash signature and band keys are built as one nested array expression
    (one portable hash per shingle + affine permutation minima) instead of
    N unrolled hash calls — same algebra, one md5 per shingle.

    Same-type blocking is part of the join key (label ∈ key), and the
    within-bucket self-join is explicitly salted (task output bounded even
    for a mega-surface bucket)."""
    rows_per_band = N_HASHES // N_BANDS
    hs = F.transform("shingles", lambda s: phash64(s, "sh", chars=8))
    sig = F.transform(
        F.sequence(F.lit(0), F.lit(N_HASHES - 1)),
        lambda i: F.array_min(
            F.transform(
                "hs",
                lambda h: (F.element_at(F.lit(LINK_A), i + 1) * h
                           + F.element_at(F.lit(LINK_B), i + 1)) % F.lit(LINK_P),
            )
        ),
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                phash64(
                    F.concat_ws(
                        ":",
                        F.transform(
                            F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                            lambda h: h.cast("string"),
                        ),
                    ),
                    f"band{b}",
                ).alias("bkey"),
            )
            for b in range(N_BANDS)
        ]
    )
    banded = (
        vocab.withColumn("hs", hs)
        .withColumn("sig", sig)
        .select("sid", "label", F.explode(band_structs).alias("bb"))
        .select("sid", "label", "bb.band", "bb.bkey")
    )

    # band shuffle carries ids only — the wide shingle arrays must not ride
    # the band explosion (×N_BANDS) nor the salt replication of a hot
    # bucket; the payload re-joins once per *deduped* pair (the discipline
    # textops.py's minhash/embedding paths already follow). Identical
    # output: (norm, shingles) are functions of sid.
    cand = (
        salted_pair_join(banded, ["label", "band", "bkey"], "sid")
        .select("sid", "b_sid")
        .distinct()
    )
    payload = vocab.select("sid", "norm", "shingles")
    payload_b = vocab.select(
        F.col("sid").alias("b_sid"), F.col("norm").alias("b_norm"),
        F.col("shingles").alias("b_shingles"),
    )
    cand = cand.join(payload, "sid").join(payload_b, "b_sid")
    jac = (
        F.size(F.array_intersect("shingles", "b_shingles"))
        / F.size(F.array_union("shingles", "b_shingles"))
    )
    return (
        cand.withColumn("sim", F.round(jac, 9))
        .filter((F.col("sim") >= JACCARD_THRESHOLD) | (F.col("norm") == F.col("b_norm")))
        .select(F.col("sid").alias("src"), F.col("b_sid").alias("dst"), "sim")
    )


def _round_half_up(x: float, nd: int) -> float:
    """Spark's ``F.round`` on a double: the shortest round-trip decimal of
    ``x`` (Python's repr), rounded HALF_UP."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), ROUND_HALF_UP))


def link_entities_local(vocab, max_band_rows: int) -> dict | None:
    """Driver twin of :func:`link_entities` for a vocabulary that fits on
    the driver: ``vocab`` is a pyarrow table with ``sid``, ``label``,
    ``norm`` and ``shingles`` (``build_vocab``'s columns). Returns the
    similarity edges as columns ``src``/``dst``/``sim`` — the same rows,
    bit for bit: the same portable hashes and affine minima (numpy, one
    pass over the flattened shingles), the same (label, band, bkey)
    buckets and ``sid < b_sid`` pairs, and the Jaccard ratio rounded
    HALF_UP to 9 digits as ``F.round`` does.

    Returns None instead when the bucket self-join would produce more
    than ``max_band_rows`` rows (the sum of squared bucket sizes): a hot
    bucket, which the salted Spark join bounds per task, would be one
    unbounded merge and a per-pair Python loop here."""
    import numpy as np
    import pandas as pd

    sid = vocab["sid"].to_numpy()
    label = vocab["label"].to_numpy(zero_copy_only=False)
    norm = vocab["norm"].to_numpy(zero_copy_only=False)
    shingles = vocab["shingles"].to_pylist()
    n = len(sid)
    if n == 0:
        return {"src": sid, "dst": sid, "sim": np.zeros(0)}
    sizes = np.fromiter(map(len, shingles), np.int64, n)
    flat = [s for sh in shingles for s in sh]
    shingle_hash = {s: phash64_py(s, "sh", chars=8) for s in set(flat)}
    hs = np.fromiter(map(shingle_hash.__getitem__, flat), np.int64, len(flat))
    # a < 2^31, h < 2^32, b < 2^31: a*h + b < 2^63, exact in int64
    perm = (np.array(LINK_A)[:, None] * hs + np.array(LINK_B)[:, None]) % LINK_P
    starts = np.concatenate(([0], np.cumsum(sizes)[:-1]))
    sig = np.minimum.reduceat(perm, starts, axis=1).T.tolist()  # (n, N_HASHES)
    rows_per_band = N_HASHES // N_BANDS
    banded = pd.DataFrame({
        "label": np.tile(label, N_BANDS),
        "band": np.repeat(np.arange(N_BANDS), n),
        "bkey": [phash64_py(":".join(map(str, s[b * rows_per_band:(b + 1) * rows_per_band])),
                            f"band{b}")
                 for b in range(N_BANDS) for s in sig],
        "i": np.tile(np.arange(n), N_BANDS),
    })
    bucket = banded.groupby(["label", "band", "bkey"], sort=False).size().to_numpy()
    if int((bucket * bucket).sum()) > max_band_rows:
        return None
    pairs = banded.merge(banded, on=["label", "band", "bkey"])
    i, j = pairs["i_x"].to_numpy(), pairs["i_y"].to_numpy()
    keep = sid[i] < sid[j]
    ij = np.unique(np.stack([i[keep], j[keep]], axis=1), axis=0)
    i, j = ij[:, 0], ij[:, 1]
    sets = [frozenset(sh) for sh in shingles]
    inter = np.fromiter((len(sets[a] & sets[b]) for a, b in zip(i, j)), np.int64, len(i))
    sim = np.array([_round_half_up(x, 9)
                    for x in (inter / (sizes[i] + sizes[j] - inter)).tolist()])
    keep = (sim >= JACCARD_THRESHOLD) | (norm[i] == norm[j])
    return {"src": sid[i[keep]], "dst": sid[j[keep]], "sim": sim[keep]}

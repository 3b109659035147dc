"""Stages 6-8 — entity link → canonicalize → graph materialization.

North-rule extension (no reference equivalent). The graph half has two
sizes of work. ``mention_surfaces``, ``mention_entity`` and ``edges``
scan the evidence (one row per mention or triple) and are always Spark
plans. Everything between them — the vocabulary, its similarity edges,
the component assignment, entity ids and the canonical node table — is
vocabulary-sized, and the plan for it is chosen from the vocabulary's
size (the gate of ``graph_from_surfaces``):

- when the vocabulary has at most ``VOCAB_LOCAL_THRESHOLD`` rows, one
  bounded Arrow probe brings it to the driver, where
  ``link.link_entities_local`` and ``cc.local_components`` resolve it in
  one vectorized pass; the results go back as Arrow-built
  ``LocalRelation`` tables, and ``mention_entity`` broadcasts the
  vocabulary map. A 205-row vocabulary then costs a handful of Spark
  jobs instead of one per shuffle stage;
- above that bound, or when the probed vocabulary's LSH buckets would
  self-join into more than ``MAX_BAND_ROWS`` rows (a hot bucket, which
  the salted Spark join bounds per task), ``link_entities`` and
  ``connected_components`` run as distributed plans, and ``nodes`` is
  one aggregation over the entity vocabulary.

Both sides produce the same rows (tests/test_scoring_and_graph.py). Each
stage goes through the caller's ``ck`` once and every downstream consumer
reads what ``ck`` returned, so no stage is recomputed per output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cc import LOCAL_THRESHOLD, connected_components, driver_frame, local_components
from .link import build_vocab, link_entities, link_entities_local, mention_surfaces

VOCAB_SCHEMA = ("sid bigint, label string, surface string, norm string, "
                "n_mentions bigint, entity_id bigint")
NODES_SCHEMA = ("entity_id bigint, canonical_name string, type string, "
                "n_mentions bigint, n_surfaces bigint")
# the driver side of the vocabulary gate: at most VOCAB_LOCAL_THRESHOLD
# rows whose LSH buckets self-join into at most MAX_BAND_ROWS rows. Timed
# on 4 cores, the driver was faster at every row count tried (10k-200k
# near-duplicate names); the row bound keeps its Python heap under
# 0.7 GB. At 4M band rows the driver was twice as fast; at 8M
# the two sides tied
VOCAB_LOCAL_THRESHOLD = 100_000
MAX_BAND_ROWS = 4_000_000


def pin(df: DataFrame) -> DataFrame:
    """The default stage materialization: an eager ``localCheckpoint``,
    except for a driver-built table, which is materialized already."""
    return df if df.isLocal() else df.localCheckpoint()


def build_graph(mentions_refined: DataFrame, triples: DataFrame,
                turns_tok: DataFrame, ck=None) -> dict[str, DataFrame]:
    """Returns the graph-side tables. ``ck(name, build)`` materializes a
    stage (checkpoint or persist); default = ``pin``."""
    if ck is None:
        def ck(name, build):
            return pin(build())

    surfaces = ck("mention_surfaces",
                  lambda: mention_surfaces(mentions_refined, turns_tok))
    return graph_from_surfaces(surfaces, triples, ck)


def _resolve_local(vocab, sim: dict) -> dict[str, tuple]:
    """sim_edges / entity_assign / entity_vocab / nodes of a driver-side
    vocabulary (pyarrow table of ``build_vocab``'s columns) and its
    similarity edges (``link_entities_local``), each as (columns, schema)
    for ``driver_frame``."""
    import numpy as np
    import pandas as pd

    comp = local_components(zip(sim["src"].tolist(), sim["dst"].tolist()))
    ve = vocab.select(["sid", "label", "surface", "norm", "n_mentions"]).to_pandas()
    ve["entity_id"] = np.fromiter(
        (comp.get(s, s) for s in ve["sid"].tolist()), np.int64, len(ve))
    # canonical name: min over (-n_mentions, surface, label) per entity
    per = (ve.assign(neg=-ve["n_mentions"])
           .sort_values(["entity_id", "neg", "surface", "label"])
           .groupby("entity_id", sort=False))
    nodes = pd.DataFrame({
        "canonical_name": per["surface"].first(),
        "type": per["label"].first(),
        "n_mentions": per["n_mentions"].sum(),
        "n_surfaces": per.size(),
    }).reset_index()
    return {
        "sim_edges": (sim, "src bigint, dst bigint, sim double"),
        "entity_assign": ({"sid": list(comp), "component": list(comp.values())},
                          "sid bigint, component bigint"),
        "entity_vocab": ({c: ve[c].to_numpy() for c in ve.columns}, VOCAB_SCHEMA),
        "nodes": ({c: nodes[c].to_numpy() for c in nodes.columns}, NODES_SCHEMA),
    }


def _resolve_spark(vocab: DataFrame, ck, sim_edges: DataFrame,
                   local_threshold: int) -> dict:
    """The distributed plans for a vocabulary the driver does not take."""
    # CC keeps its own edge-list gate; a forced Spark side (bound 0) also
    # forces the star path
    assign = ck("entity_assign", lambda: connected_components(
        sim_edges, local_threshold=LOCAL_THRESHOLD if local_threshold else 0))
    ventity = ck("entity_vocab", lambda: (
        vocab.join(assign, "sid", "left")
        .withColumn("entity_id", F.coalesce("component", F.col("sid")))
        .select("sid", "label", "surface", "norm", "n_mentions", "entity_id")))
    # canonical name: min over (-n_mentions, surface, label) per entity,
    # in the same aggregation as the counts (no window, no join back)
    canon = F.min(F.struct((-F.col("n_mentions")).alias("neg"), "surface", "label"))
    nodes = ck("nodes", lambda: (
        ventity.groupBy("entity_id")
        .agg(canon.alias("c"), F.sum("n_mentions").alias("n_mentions"),
             F.count("*").alias("n_surfaces"))
        .select("entity_id", F.col("c.surface").alias("canonical_name"),
                F.col("c.label").alias("type"), "n_mentions", "n_surfaces")))
    return {"sim_edges": sim_edges, "entity_assign": assign,
            "entity_vocab": ventity, "nodes": nodes}


def graph_from_surfaces(surfaces: DataFrame, triples: DataFrame, ck=None,
                        local_threshold: int = VOCAB_LOCAL_THRESHOLD,
                        ) -> dict[str, DataFrame]:
    """The canonicalization half of build_graph, factored so the
    incremental path (streaming.stream_kg_graph) can re-canonicalize from
    CUMULATIVE persisted surfaces: link/CC must see all evidence — a new
    surface can merge two existing entities — while extraction stays a
    once-per-conversation batch job.

    Size gate: after the ``entity_vocab_raw`` stage, one bounded probe
    (``limit(local_threshold + 1)`` as Arrow — never an unbounded collect)
    reads the vocabulary. If it holds at most ``local_threshold`` rows and
    its LSH buckets self-join into at most ``MAX_BAND_ROWS`` rows,
    ``sim_edges``, ``entity_assign``, ``entity_vocab`` and ``nodes`` are
    resolved on the driver and handed to ``ck`` as ``LocalRelation``
    tables, and ``mention_entity`` is a broadcast join on the local map.
    Otherwise all four are Spark plans (``link_entities``,
    ``connected_components`` with its own edge-list gate, a join and one
    aggregation). On both sides ``entity_vocab_raw``, ``mention_entity``
    and ``edges`` are Spark plans, and the stages reach ``ck`` under the
    same seven names. ``local_threshold=0`` forces the Spark side, CC's
    star path included (tests)."""
    if ck is None:
        def ck(name, build):
            return pin(build())

    vocab = ck("entity_vocab_raw", lambda: build_vocab(surfaces))
    probe = None
    if local_threshold > 0:
        probe = (vocab.select("sid", "label", "surface", "norm", "n_mentions",
                              "shingles")
                 .limit(local_threshold + 1).toArrow())
        if probe.num_rows > local_threshold:
            probe = None
    local: dict = {}

    def build_sim():
        # the driver work runs inside the first stage's build, so a hook
        # that times ``ck`` builds sees it
        sim = link_entities_local(probe, MAX_BAND_ROWS)
        if sim is None:  # a hot LSH bucket: the salted Spark join
            return link_entities(vocab)
        local.update(_resolve_local(probe, sim))
        return driver_frame(vocab.sparkSession, *local["sim_edges"])

    sim_edges = ck("sim_edges", build_sim if probe is not None
                   else lambda: link_entities(vocab))
    if local:
        g = {"sim_edges": sim_edges,
             **{name: ck(name, lambda name=name: driver_frame(
                 vocab.sparkSession, *local[name]))
                for name in ("entity_assign", "entity_vocab", "nodes")}}
        vmap = F.broadcast(g["entity_vocab"].select("label", "surface", "entity_id"))
    else:
        # includes a resumed ``sim_edges`` stage, whose build did not run
        g = _resolve_spark(vocab, ck, sim_edges, local_threshold)
        vmap = g["entity_vocab"].select("label", "surface", "entity_id")

    mention_entity = ck(
        "mention_entity",
        lambda: surfaces.join(vmap, ["label", "surface"]).select(
            "conv_id", "turn_idx", "start", "end", "label", "surface",
            "entity_id"),
    )

    me = mention_entity.select("conv_id", "turn_idx", "start", "end", "entity_id")

    def build_edges():
        # melt each triple to (slot, endpoint-span), join the mention→entity
        # map exactly once, pivot back (single-instance join — see
        # rel.refine_types note on the double-join self-join trap)
        melted = triples.select(
            "conv_id", "turn_idx", "s1", "e1", "s2", "e2", "pred", "score",
            F.explode(
                F.array(
                    F.struct(F.lit(0).alias("slot"), F.col("s1").alias("start"),
                             F.col("e1").alias("end")),
                    F.struct(F.lit(1).alias("slot"), F.col("s2").alias("start"),
                             F.col("e2").alias("end")),
                )
            ).alias("x"),
        ).select("conv_id", "turn_idx", "s1", "e1", "s2", "e2", "pred",
                 "score", "x.slot", "x.start", "x.end")
        resolved = (
            melted.join(me, ["conv_id", "turn_idx", "start", "end"], "inner")
            .groupBy("conv_id", "turn_idx", "s1", "e1", "s2", "e2", "pred", "score")
            .agg(
                F.max(F.when(F.col("slot") == 0, F.col("entity_id"))).alias("src_id"),
                F.max(F.when(F.col("slot") == 1, F.col("entity_id"))).alias("dst_id"),
            )
            .filter(F.col("src_id").isNotNull() & F.col("dst_id").isNotNull())
        )
        return resolved.groupBy("src_id", "dst_id", "pred").agg(
            F.count("*").alias("weight"), F.round(F.sum("score"), 9).alias("score_sum")
        )

    edges = ck("edges", build_edges)
    return {
        "surfaces": surfaces,
        **g,
        "mention_entity": mention_entity,
        "edges": edges,
    }

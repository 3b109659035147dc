"""The SQL-facing surface: pipeline outputs queryable via spark.sql, plus
the eval_logsoftmax / eval_softmax score-path parity with the oracle."""

from dataclasses import replace

import pytest

from pl_marker_spark import synth
from pl_marker_spark.config import DEFAULT_CONFIG
from pl_marker_spark.oracle_ref import run_oracle
from pl_marker_spark.pipeline.runner import run_extraction, run_full_pipeline
from pl_marker_spark.sql_views import register_views


def test_sql_views_and_analyses(spark):
    out = run_full_pipeline(spark, synth.transcripts_df(spark, 8), DEFAULT_CONFIG)
    views = register_views(spark, out)
    assert "kg_nodes" in views and "kg_rel_labels" in views
    by_type = spark.sql(
        "SELECT type, count(*) AS n FROM kg_nodes GROUP BY type"
    ).collect()
    assert sum(r.n for r in by_type) == out["nodes"].count()
    top = spark.sql("""
        SELECT n.canonical_name, d.degree FROM kg_nodes n JOIN (
            SELECT src_id AS id, sum(weight) AS degree FROM kg_edges GROUP BY src_id
        ) d ON n.entity_id = d.id ORDER BY d.degree DESC, n.canonical_name LIMIT 5
    """).collect()
    assert len(top) == 5 and top[0].degree >= top[-1].degree
    sym = spark.sql(
        "SELECT t.pred FROM kg_triples t JOIN kg_rel_labels l ON t.pred = l.label "
        "WHERE l.symmetric"
    )
    assert sym.count() > 0


@pytest.mark.parametrize("flag", ["eval_logsoftmax", "eval_softmax"])
def test_eval_score_transform_matches_oracle(spark, flag):
    cfg = replace(DEFAULT_CONFIG, **{flag: True})
    corpus = synth.local_corpus(8)
    want = {
        (c, t, s1, e1, s2, e2, p, round(sc, 9))
        for c, t, s1, e1, s2, e2, p, sc, _n1, _n2
        in run_oracle(corpus[0], cfg)["triples"]
    }
    got = {
        (r.conv_id, r.turn_idx, r.s1, r.e1, r.s2, r.e2, r.pred, round(r.score, 9))
        for r in run_extraction(spark, synth.transcripts_df(spark, 8), cfg)["triples"].collect()
    }
    assert got == want and len(got) > 5


def test_reference_jsonl_source(spark, tmp_path):
    """S1: the reference's jsonline doc shape (doc_key / sentences / ner /
    relations — run_acener.py:171-199) ingests directly into the
    transcript + gold tables, coordinates unchanged (document-level token
    indices ARE conversation-level word indices), and the extraction
    pipeline runs end-to-end on it."""
    import json

    from pl_marker_spark.config import DEFAULT_CONFIG
    from pl_marker_spark.pipeline.runner import run_extraction
    from pl_marker_spark.sources import (
        read_reference_jsonl,
        read_reference_jsonl_gold,
    )

    docs = [
        {
            "doc_key": "doc0",
            "sentences": [["orion", "probe", "reached", "ganymede", "."],
                          ["the", "probe", "-LRB-", "active", "-RRB-", "sent", "data", "."]],
            "ner": [[[0, 1, "VEH"], [3, 3, "LOC"]], [[6, 6, "VEH"]]],
            "relations": [[[0, 1, 3, 3, "PHYS"]], []],
        },
        {
            "doc_key": "doc1",
            "sentences": [["nova", "station", "hosts", "dr", "vega", "."]],
            "ner": [[[0, 1, "FAC"], [3, 4, "PER"]]],
            "relations": [[[3, 4, 0, 1, "PHYS"]]],
        },
    ]
    p = tmp_path / "ref.jsonl"
    p.write_text("\n".join(json.dumps(d) for d in docs))

    t = read_reference_jsonl(spark, str(p))
    rows = {(r.conv_id, r.turn_idx): r.text for r in t.collect()}
    assert rows[("doc0", 0)] == "orion probe reached ganymede ."
    # P1: -LRB- stays in the raw text; the word split unescapes it
    assert "-LRB-" in rows[("doc0", 1)]
    assert t.schema["ts"].dataType.typeName() == "timestamp"

    gm, gr = read_reference_jsonl_gold(spark, str(p))
    ments = {(r.conv_id, r.turn_idx, r.start, r.end, r.label)
             for r in gm.collect()}
    assert ("doc0", 0, 0, 1, "VEH") in ments
    assert ("doc0", 1, 6, 6, "VEH") in ments      # doc-level index kept
    rels = {(r.conv_id, r.s1, r.e1, r.s2, r.e2, r.label)
            for r in gr.collect()}
    assert ("doc1", 3, 4, 0, 1, "PHYS") in rels

    out = run_extraction(spark, t, DEFAULT_CONFIG)
    assert out["mentions"].count() >= 0   # pipeline runs on the ingested shape
    assert out["mentions"].schema.simpleString().startswith(
        "struct<conv_id:string,turn_idx:int")


def test_conll03_source(spark, tmp_path):
    """S2: CoNLL03 token-per-line files (word ... BIO-tag, blank-line
    sentence boundaries, -DOCSTART doc boundaries — run_ner_BIO.py:106-139)
    ingest into (transcripts, gold) with document-level token coords."""
    from pl_marker_spark.sources import read_conll03

    conll = "\n".join([
        "-DOCSTART- -X- -X- O",
        "",
        "orion NNP I-NP B-VEH",
        "probe NN I-NP I-VEH",
        "reached VBD I-VP O",
        "ganymede NNP I-NP B-LOC",
        ". . O O",
        "",
        "it PRP I-NP O",
        "sent VBD I-VP O",
        "data NN I-NP O",
        "",
        "-DOCSTART- -X- -X- O",
        "",
        "dr NNP I-NP B-PER",
        "vega NNP I-NP I-PER",
        "works VBZ I-VP O",
        "",
    ])
    p = tmp_path / "eng.testb"
    p.write_text(conll)
    t, gold = read_conll03(spark, str(p))
    rows = {(r.conv_id, r.turn_idx): r.text for r in t.collect()}
    assert rows[("eng#0", 0)] == "orion probe reached ganymede ."
    assert rows[("eng#0", 1)] == "it sent data"
    assert rows[("eng#1", 0)] == "dr vega works"
    g = {(r.conv_id, r.turn_idx, r.start, r.end, r.label)
         for r in gold.collect()}
    assert g == {("eng#0", 0, 0, 1, "VEH"), ("eng#0", 0, 3, 3, "LOC"),
                 ("eng#1", 0, 0, 1, "PER")}
    # the ingested transcripts run through the extraction pipeline
    from pl_marker_spark.config import DEFAULT_CONFIG
    from pl_marker_spark.pipeline.runner import run_extraction

    out = run_extraction(spark, t, DEFAULT_CONFIG)
    assert out["mentions"].count() >= 0


def test_fewnerd_source(spark, tmp_path):
    """S2 Few-NERD variant (run_ner.py:464-497): tab-separated word/label
    lines, no B/I prefixes (non-O labels become I-<label, '-'→'_'>), each
    blank-line-delimited sentence its own document. Covers: multi-token
    entity merge, fine-grained '-' labels, adjacent same-type tokens as
    ONE span (Few-NERD convention), and a final sentence without a
    trailing blank line."""
    from pl_marker_spark.sources import read_conll03

    fewnerd = "\n".join([
        "paul\tperson-actor",
        "newman\tperson-actor",
        "starred\tO",
        "in\tO",
        "hud\tart-film",
        "",
        "london\tlocation-GPE",
        "paris\tlocation-GPE",
        "differ\tO",
        "",
        "the\tO",
        "end\tO",   # no trailing blank line
    ])
    p = tmp_path / "supervised.txt"
    p.write_text(fewnerd)
    t, gold = read_conll03(spark, str(p), variant="fewnerd")
    rows = {(r.conv_id, r.turn_idx): r.text for r in t.collect()}
    assert rows == {
        ("supervised#0", 0): "paul newman starred in hud",
        ("supervised#1", 0): "london paris differ",
        ("supervised#2", 0): "the end",
    }
    g = {(r.conv_id, r.turn_idx, r.start, r.end, r.label)
         for r in gold.collect()}
    # adjacent same-type tokens (london paris) merge into one span:
    # the format has no B- marker to separate them
    assert g == {
        ("supervised#0", 0, 0, 1, "person_actor"),
        ("supervised#0", 0, 4, 4, "art_film"),
        ("supervised#1", 0, 0, 1, "location_GPE"),
    }


def test_ontonotes_conll_source(spark, tmp_path):
    """S3: OntoNotes v4_gold_conll blocks (bracketed NER column, doc
    parts, PTB escapes, pt/ skip — preprocess_ontonotes.py:27-105) ingest
    into (transcripts, gold) with the reference's doc_key and
    document-level word indices."""
    from pl_marker_spark.sources import read_ontonotes_conll

    def tok(i, word, ner):
        return f"nw/wsj 0 {i} {word} NNP * - - - - {ner}"

    lines = [
        "#begin document (nw/wsj/01/wsj_0101); part 000",
        tok(0, "orion", "(VEH*"),
        tok(1, "probe", "*)"),
        tok(2, "reached", "*"),
        tok(3, "ganymede", "(LOC)"),
        tok(4, "/.", "*"),
        "",
        tok(0, "-LRB-", "*"),
        tok(1, "it", "*"),
        tok(2, "works", "*"),
        tok(3, "-RRB-", "*"),
        "",
        "#end document",
        "#begin document (pt/nt/40/nt_4001); part 001",
        tok(0, "verily", "*"),
        "",
        "#end document",
        "#begin document (bn/abc/00/abc_0010); part 002",
        tok(0, "dr", "(PER*"),
        tok(1, "vega", "*)"),
        "",
        "#end document",
    ]
    p = tmp_path / "dev.english.v4_gold_conll"
    p.write_text("\n".join(lines) + "\n")
    t, gold = read_ontonotes_conll(spark, str(p))
    rows = {(r.conv_id, r.turn_idx): r.text for r in t.collect()}
    # PTB unescape + /. normalization applied at read, like the reference
    assert rows[("nw/wsj/01/wsj_0101_0", 0)] == "orion probe reached ganymede ."
    assert rows[("nw/wsj/01/wsj_0101_0", 1)] == "( it works )"
    assert rows[("bn/abc/00/abc_0010_2", 0)] == "dr vega"
    # pt/ documents are skipped entirely
    assert not any(cid.startswith("pt/") for cid, _ in rows)
    g = {(r.conv_id, r.turn_idx, r.start, r.end, r.label)
         for r in gold.collect()}
    # doc-level word indices: sentence 2's tokens continue the doc counter
    assert g == {("nw/wsj/01/wsj_0101_0", 0, 0, 1, "VEH"),
                 ("nw/wsj/01/wsj_0101_0", 0, 3, 3, "LOC"),
                 ("bn/abc/00/abc_0010_2", 0, 0, 1, "PER")}

"""Tagger path (SURVEY.md §2.9/§2.10): features, batched Viterbi, IOB
chunking, distributed tag_mentions, perceptron trainer."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from cliner_spark import features as FT
from cliner_spark import fixtures, oracle_py, tagger
from cliner_spark.chunk import chunk_flat_tags, spans_to_flat_tags


def _gold_tags(rows, term_type):
    texts, gold = [], []
    for r in rows:
        toks = r["text"].split()
        tags = ["O"] * len(toks)
        for (s, e, mt) in oracle_py.scan_mentions(r["text"], set(term_type)):
            ty = term_type[mt.lower()]
            tags[s] = f"B-{ty}"
            for i in range(s + 1, e + 1):
                tags[i] = f"I-{ty}"
        texts.append(r["text"])
        gold.append(tags)
    return texts, gold


def test_viterbi_matches_brute_force():
    """Property check vs O(L^T) exhaustive search on small random inputs."""
    rng = np.random.default_rng(0)
    trans = tagger.iob_transitions()
    L = tagger.L
    for _ in range(25):
        T = int(rng.integers(1, 6))
        em = rng.normal(size=(T, L)).astype(np.float32)
        lengths = np.asarray([T])
        got = tagger.viterbi_batch(em, lengths, trans)

        best, best_score = None, -np.inf
        import itertools

        for path in itertools.product(range(L), repeat=T):
            s = em[0, path[0]] + (trans[0, path[0]] if path[0] != 0 else 0.0)
            # start constraint: I-* cannot open a sequence
            if trans[0, path[0]] <= tagger.NEG / 2:
                continue
            s = em[0, path[0]]
            ok = True
            for t in range(1, T):
                if trans[path[t - 1], path[t]] <= tagger.NEG / 2:
                    ok = False
                    break
                s += trans[path[t - 1], path[t]] + em[t, path[t]]
            if ok and s > best_score:
                best, best_score = path, s
        assert list(got) == list(best)


def test_viterbi_ragged_batch_equals_singletons():
    """Padded batch decode == independent per-turn decode."""
    rng = np.random.default_rng(1)
    trans = tagger.iob_transitions()
    lengths = np.asarray([3, 7, 1, 5])
    em = rng.normal(size=(int(lengths.sum()), tagger.L)).astype(np.float32)
    batched = tagger.viterbi_batch(em, lengths, trans)
    off = 0
    for l in lengths:
        single = tagger.viterbi_batch(em[off : off + l], np.asarray([l]), trans)
        assert list(batched[off : off + l]) == list(single)
        off += l


def test_distant_model_equals_scanner_oracle():
    model = tagger.make_distant_model(fixtures.CLINICAL_GAZETTEER)
    term_type = tagger.best_term_type(fixtures.CLINICAL_GAZETTEER)
    rows = fixtures.gen_transcripts(n_convs=12, avg_turns=6, seed=3)
    texts = pd.Series([r["text"] for r in rows])
    flat, turn_ids, lengths, tags = tagger.decode_texts(texts, model)
    spans = chunk_flat_tags(tags, turn_ids, tagger.LABELS)
    toks = flat.to_numpy(dtype=object)
    starts = np.concatenate([[0], np.cumsum(lengths)[:-1]])
    got = set()
    if spans:
        r, s, e, ty = spans
        for rr, ss, ee, tt in zip(r, s, e, ty):
            mt = " ".join(toks[starts[rr] + ss : starts[rr] + ee + 1])
            got.add((int(rr), int(ss), int(ee), mt, tt))
    want = set()
    for i, r0 in enumerate(rows):
        for (s0, e0, mtext) in oracle_py.scan_mentions(r0["text"], set(term_type)):
            want.add((i, s0, e0, mtext, term_type[mtext.lower()]))
    assert len(want) > 50
    assert got == want


def test_chunk_roundtrip_and_orphan_i():
    labels = tagger.LABELS
    # orphan I opens its own span; runs split at B; turn boundary splits
    tags = [
        labels.index("I-test"),     # orphan -> span
        labels.index("I-test"),     # continues orphan
        labels.index("B-problem"),
        labels.index("I-problem"),
        labels.index("B-problem"),  # new span, same type
        labels.index("O"),
    ]
    turn_ids = np.asarray([0, 0, 0, 0, 0, 0])
    r, s, e, ty = chunk_flat_tags(np.asarray(tags), turn_ids, labels)
    assert list(zip(r, s, e, ty)) == [
        (0, 0, 1, "test"),
        (0, 2, 3, "problem"),
        (0, 4, 4, "problem"),
    ]
    # I-continuation across a turn boundary must split
    turn_ids2 = np.asarray([0, 1, 1, 1, 1, 1])
    r2, s2, e2, ty2 = chunk_flat_tags(np.asarray(tags), turn_ids2, labels)
    assert (r2[0], s2[0], e2[0]) == (0, 0, 0)
    assert (r2[1], s2[1], e2[1]) == (1, 0, 0)

    # M4 -> M3 identity
    lengths = np.asarray([6])
    flat = spans_to_flat_tags([(0, 2, 3, "problem"), (0, 4, 4, "problem")], lengths, labels)
    rr, ss, ee, tt = chunk_flat_tags(flat, np.zeros(6, dtype=np.int64), labels)
    assert list(zip(rr, ss, ee, tt)) == [(0, 2, 3, "problem"), (0, 4, 4, "problem")]


def test_porter_stemmer_published_examples():
    from cliner_spark.stem import porter_stem

    cases = {
        "caresses": "caress", "ponies": "poni", "ties": "ti", "cats": "cat",
        "agreed": "agre", "plastered": "plaster", "motoring": "motor",
        "hopping": "hop", "sized": "size", "happy": "happi", "sky": "sky",
        "relational": "relat", "conditional": "condit", "rational": "ration",
        "digitizer": "digit", "operator": "oper", "triplicate": "triplic",
        "electriciti": "electr", "hopeful": "hope", "goodness": "good",
        "adjustable": "adjust", "replacement": "replac", "adoption": "adopt",
        "activate": "activ", "effective": "effect", "rate": "rate",
        "controll": "control", "roll": "roll",
    }
    assert {w: porter_stem(w) for w in cases} == cases


def test_metric_unit_flag():
    from cliner_spark.features import is_metric_unit

    assert is_metric_unit("mg") and is_metric_unit("ml")
    assert is_metric_unit("81mg") and is_metric_unit("0.5ml")
    assert not is_metric_unit("mgx") and not is_metric_unit("81")
    assert not is_metric_unit("patient")


def test_feature_determinism_and_families():
    toks = pd.Series(["Aspirin", "81mg", "BP", "x-ray", "...", "McDonald"])
    a = FT.feature_indices(toks)
    b = FT.feature_indices(toks.copy())
    for x, y in zip(a, b):
        assert (x == y).all()
    assert FT.word_shape("Abc12") == "Xxxdd"
    assert FT.word_shape_collapsed("AAbb11") == "Xxd"
    # distinct tokens land in (almost surely) distinct identity buckets
    assert len(set(a[0])) == len(toks)


def test_tag_mentions_spark_matches_scan(spark):
    from cliner_spark.mentions import scan_mentions_udf

    rows = fixtures.gen_transcripts(n_convs=10, avg_turns=6, seed=5)
    df = fixtures.transcripts_df(spark, rows)
    model = tagger.make_distant_model(fixtures.CLINICAL_GAZETTEER)
    got = {
        (r["conv_id"], r["turn_idx"], r["tok_start"], r["tok_end"], r["mention_text"])
        for r in tagger.tag_mentions(df, model).collect()
    }
    terms = sorted({t for (t, *_r) in fixtures.CLINICAL_GAZETTEER})
    want = set(map(tuple, scan_mentions_udf(df, terms).collect()))
    assert got == want and len(want) > 30


def test_pipeline_tagger_scanner_pr(spark):
    from cliner_spark.evaluate import triple_prf
    from cliner_spark.pipeline import run_pipeline

    rows = fixtures.gen_transcripts(n_convs=15, avg_turns=6, seed=42)
    df = fixtures.transcripts_df(spark, rows)
    out = run_pipeline(spark, df, scanner="tagger")
    gold, _ = oracle_py.pipeline_triples(rows, fixtures.CLINICAL_GAZETTEER)
    gold_df = spark.createDataFrame(
        [{"subj": s, "pred": p, "obj": o} for (s, p, o) in gold]
    )
    m = triple_prf(out["triples"], gold_df)
    assert m["precision"] >= 0.95 and m["recall"] >= 0.95, m


def test_pos_feature_family():
    """F8: closed-class words, suffix rules, backoff; family shape matches
    the other hashed families and gates off cleanly."""
    assert FT.pos_tag("the") == "DT"
    assert FT.pos_tag("with") == "IN"
    assert FT.pos_tag("would") == "MD"
    assert FT.pos_tag("81.5") == "CD"
    assert FT.pos_tag("1/2") == "CD"
    assert FT.pos_tag(",") == "PUNC"
    assert FT.pos_tag("bleeding") == "VBG"
    assert FT.pos_tag("elevated") == "VBD"
    assert FT.pos_tag("acutely") == "RB"
    assert FT.pos_tag("chronic") == "JJ"
    assert FT.pos_tag("lesions") == "NNS"
    assert FT.pos_tag("glucose") == "NN"  # backoff

    toks = pd.Series(["The", "patient", "was", "bleeding", None])
    fam = FT.pos_indices(toks)
    assert len(fam) == 1 and fam[0].shape == (5,)
    # memoized over distinct: same token -> same bucket
    fam2 = FT.pos_indices(pd.Series(["bleeding", "bleeding"]))
    assert fam2[0][0] == fam2[0][1] == fam[0][3]

    # distant model (zero hashed weights): use_pos on/off must not change
    # decoded spans — extra families contribute zero emission
    model_on = tagger.make_distant_model(fixtures.CLINICAL_GAZETTEER, use_pos=True)
    model_off = tagger.make_distant_model(fixtures.CLINICAL_GAZETTEER, use_pos=False)
    texts = pd.Series(["patient has severe chest pain after blood test today"])
    _, _, _, p_on = tagger.decode_texts(texts, model_on)
    _, _, _, p_off = tagger.decode_texts(texts, model_off)
    assert (p_on == p_off).all()


def test_distributed_perceptron_matches_local_accuracy(spark):
    """The parameter-mixing trainer (per-partition perceptrons, no driver
    collect of transcripts) must clear the same fixture accuracy bar as the
    driver-local trainer."""
    term_type = tagger.best_term_type(fixtures.CLINICAL_GAZETTEER)
    rows = fixtures.gen_transcripts(n_convs=15, avg_turns=6, seed=11)
    texts, gold = _gold_tags(rows, term_type)

    tx_df = spark.createDataFrame(
        [
            {"conv_id": r["conv_id"], "turn_idx": r["turn_idx"], "text": r["text"]}
            for r in rows
        ]
    )
    gold_rows = []
    for r in rows:
        for s, e, mt in oracle_py.scan_mentions(r["text"], set(term_type)):
            gold_rows.append(
                {
                    "conv_id": r["conv_id"],
                    "turn_idx": r["turn_idx"],
                    "tok_start": s,
                    "tok_end": e,
                    "concept_type": term_type[mt.lower()],
                }
            )
    gold_df = spark.createDataFrame(gold_rows)

    model = tagger.train_perceptron_distributed(
        tx_df, gold_df, epochs=16, n_partitions=4
    )
    _, _, _, pred = tagger.decode_texts(pd.Series(texts), model)
    g = np.concatenate([[tagger.LABEL_IDX[t] for t in ts] for ts in gold])
    acc = float((pred == g).mean())
    baseline = float((g == 0).mean())  # all-O
    assert acc > baseline, (acc, baseline)
    assert acc >= 0.85, acc


def test_perceptron_learns_fixture():
    term_type = tagger.best_term_type(fixtures.CLINICAL_GAZETTEER)
    rows = fixtures.gen_transcripts(n_convs=15, avg_turns=6, seed=11)
    texts, gold = _gold_tags(rows, term_type)
    model = tagger.train_perceptron(texts, gold, epochs=16)
    _, _, _, pred = tagger.decode_texts(pd.Series(texts), model)
    g = np.concatenate([[tagger.LABEL_IDX[t] for t in ts] for ts in gold])
    acc = float((pred == g).mean())
    baseline = float((g == 0).mean())  # all-O
    assert acc > baseline, (acc, baseline)
    assert acc >= 0.85, acc


def test_cmd_train_autoselects_distributed(spark, tmp_path, monkeypatch, capsys):
    """`cliner train` must NOT collect the corpus to the driver above the
    size threshold: with TRAIN_COLLECT_MAX forced below the fixture size and
    no --distributed flag, the CLI auto-selects the parameter-mixing trainer
    (r2 verdict item 5) and still writes a loadable model."""
    from cliner_spark import pipeline
    from cliner_spark.tagger import load_model

    term_type = tagger.best_term_type(fixtures.CLINICAL_GAZETTEER)
    rows = fixtures.gen_transcripts(n_convs=15, avg_turns=6, seed=11)
    tx_df = spark.createDataFrame(
        [
            {"conv_id": r["conv_id"], "turn_idx": r["turn_idx"], "text": r["text"]}
            for r in rows
        ]
    )
    gold_rows = []
    for r in rows:
        for s, e, mt in oracle_py.scan_mentions(r["text"], set(term_type)):
            gold_rows.append(
                {
                    "conv_id": r["conv_id"],
                    "turn_idx": r["turn_idx"],
                    "tok_start": s,
                    "tok_end": e,
                    "concept_type": term_type[mt.lower()],
                }
            )
    tx_path, gold_path = str(tmp_path / "tx"), str(tmp_path / "gold")
    tx_df.write.parquet(tx_path)
    spark.createDataFrame(gold_rows).write.parquet(gold_path)

    monkeypatch.setattr(pipeline, "TRAIN_COLLECT_MAX", 10)
    model_dir = str(tmp_path / "model")
    pipeline.main(
        ["train", "--input", tx_path, "--gold", gold_path, "--model", model_dir,
         "--epochs", "4"]
    )
    out = capsys.readouterr().out
    assert "distributed, parameter mixing" in out, out
    assert load_model(model_dir) is not None

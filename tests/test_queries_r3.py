"""Independent-oracle property tests for round-3 query operators: checks
against straight-line Python on the sf0.001 fixture tables — the error
class a shared-formula SQL twin cannot catch (both engines computing the
same wrong thing)."""

from __future__ import annotations

import hashlib

import __spark_entry__ as entry

SF = "/root/testdata/sf0.001"


def _q(spark, name):
    return entry.queries()[name](spark, SF)


def test_span_corruption_matches_python_replica(spark):
    rows = _q(spark, "q_span_corruption").collect()
    docs = {
        r["doc_id"]: (r["text"] or "").split()
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    assert len(rows) == len(docs)
    for r in rows[:50]:
        toks = docs[r["doc_id"]]
        corrupted, target, n_masked, n_spans = [], [], 0, 0
        for i, t in enumerate(toks):
            block = i // 3
            masked = hashlib.md5(
                f"{r['doc_id']}:{block}".encode()
            ).hexdigest()[0] in ("0", "1")
            if masked:
                n_masked += 1
                target.append(t)
                if i % 3 == 0:
                    n_spans += 1
                    corrupted.append("<X>")
            else:
                corrupted.append(t)
        assert r["n_tokens"] == len(toks)
        assert r["n_masked"] == n_masked
        assert r["n_spans"] == n_spans
        assert r["corrupted"] == " ".join(corrupted)
        assert r["target"] == " ".join(target)


def test_fim_parts_reassemble_original(spark):
    rows = _q(spark, "q_fim_transform").collect()
    docs = {
        r["doc_id"]: (r["text"] or "").split()
        for r in spark.read.parquet(f"{SF}/documents.parquet").collect()
    }
    for r in rows:
        toks = docs[r["doc_id"]]
        n = len(toks)
        p1, p2 = n // 3, (2 * n) // 3
        body = r["psm_text"]
        assert body.startswith("<PRE> ")
        pre, rest = body[len("<PRE> "):].split(" <SUF> ", 1)
        suf, mid = rest.split(" <MID> ", 1)
        # PSM parts permute back to the original document exactly
        assert pre.split() == toks[:p1]
        assert mid.split() == toks[p1:p2]
        assert suf.split() == toks[p2:]
        assert r["n_prefix"] == p1 and r["n_middle"] == p2 - p1


def test_dpo_pairs_are_valid_preferences(spark):
    rows = _q(spark, "q_dpo_pairs").collect()
    assert rows, "fixture must yield at least one multi-assistant-turn conv"
    for r in rows:
        assert r["chosen_turn_idx"] != r["rejected_turn_idx"]
        assert r["chosen_len"] >= r["rejected_len"]


def test_perplexity_buckets_are_balanced_thirds(spark):
    rows = _q(spark, "q_perplexity_buckets").collect()
    n = len(rows)
    counts = {"head": 0, "middle": 0, "tail": 0}
    for r in rows:
        counts[r["ppl_bucket"]] += 1
    # rank thresholds guarantee head >= ceil(n/3) cumulative etc.; with ties
    # on the milli-nat grid buckets can deviate, but never collapse
    assert sum(counts.values()) == n
    for b, c in counts.items():
        assert c > 0, (b, counts)
    assert counts["head"] >= (n + 2) // 3 - n // 10, counts


def test_curation_manifest_consistent_with_components(spark):
    man = {r["doc_id"]: r for r in _q(spark, "q_curation_manifest").collect()}
    # keep is exactly the AND of the stage flags
    for r in man.values():
        assert r["keep"] == (
            r["keep_dedup"]
            and r["keep_decontam"]
            and r["keep_repetition"]
            and r["keep_length"]
        )
    # dedup flag agrees with the standalone cluster operator
    cl = {r["doc_id"]: r["cluster_id"] for r in _q(spark, "q_dup_clusters").collect()}
    for doc_id, r in man.items():
        assert r["keep_dedup"] == (cl[doc_id] == doc_id)
    # decontam flag agrees with the standalone contamination operator
    hits = {r["doc_id"] for r in _q(spark, "q_decontaminate").collect()}
    for doc_id, r in man.items():
        assert r["keep_decontam"] == (doc_id not in hits)

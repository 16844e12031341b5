"""Independent plain-Python implementations of the pipeline semantics
(scan -> link -> canonicalize -> triples -> eval), used as the test oracle
(FIXTURES.md §4: "implemented independently in plain Python").

Deliberately brute-force and sequential — the point is an implementation that
shares no code with the Spark pipeline, only the written spec:
- mention scan: all n-gram candidates + dominance filter (mentions.py spec)
- linking: per-term argmax (score desc, cui asc) (link.py spec)
- canonicalization: union-find over cuis sharing any surface string
- triples: the four predicates defined in triples.py
"""

from __future__ import annotations

from collections import defaultdict

MAX_TERM_TOKENS = 4


def scan_mentions(text: str, terms: set[str], max_n: int = MAX_TERM_TOKENS):
    toks = text.split()
    low = [t.lower() for t in toks]
    cands = []
    for n in range(1, max_n + 1):
        for i in range(0, len(low) - n + 1):
            if " ".join(low[i : i + n]) in terms:
                cands.append((i, i + n - 1))
    kept = []
    for (s, e) in cands:
        dominated = False
        for (os_, oe) in cands:
            if os_ <= e and oe >= s:
                if (oe - os_ > e - s) or (oe - os_ == e - s and os_ < s):
                    dominated = True
                    break
        if not dominated:
            kept.append((s, e, " ".join(toks[s : e + 1])))
    return sorted(kept)


def best_links(gazetteer) -> dict[str, tuple[str, str, str, float]]:
    """term -> (cui, sem_type, canonical, score) by score desc, cui asc."""
    by_term: dict[str, list] = defaultdict(list)
    for (term, cui, sem, canon, score) in gazetteer:
        by_term[term.lower()].append((cui, sem, canon, score))
    out = {}
    for term, rows in by_term.items():
        rows.sort(key=lambda r: (-r[3], r[0]))
        out[term] = rows[0]
    return out


def components(edges, nodes=()) -> dict:
    """node -> min node of its connected component (union-find); `nodes`
    adds nodes that no edge touches."""
    parent = {n: n for n in nodes}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            # keep min id as root for deterministic labels
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in parent}


def canonical_map(gazetteer) -> dict[str, str]:
    """cui -> min cui of its connected component, where two cuis connect
    when they share a term or canonical name."""
    cuis = []
    by_string: dict[str, list[str]] = defaultdict(list)
    for (term, cui, _sem, canon, _score) in gazetteer:
        cuis.append(cui)
        by_string[term.lower()].append(cui)
        by_string[canon.lower()].append(cui)
    edges = [(group[0], other) for group in by_string.values() for other in group[1:]]
    return components(edges, cuis)


def pipeline_triples(transcript_rows, gazetteer):
    """rows: dicts with conv_id, turn_idx, text. Returns set of
    (subj, pred, obj) triples plus per-predicate provenance dict."""
    links = best_links(gazetteer)
    canon = canonical_map(gazetteer)
    terms = set(links)

    mentions = []  # (conv, turn, s, e, text, cui, canon_cui)
    for row in transcript_rows:
        for (s, e, mtext) in scan_mentions(row["text"], terms):
            cui, sem, _c, _sc = links[mtext.lower()]
            mentions.append(
                (row["conv_id"], row["turn_idx"], s, e, mtext, cui, canon.get(cui, cui), sem)
            )

    triples = set()
    for (conv, turn, s, e, mtext, cui, ccui, _sem) in mentions:
        triples.add((f"conv:{conv}", "MENTIONS", f"concept:{ccui}"))
        triples.add((f"concept:{ccui}", "ASSERTED_IN", f"turn:{conv}#{turn}"))
        triples.add((f"mention:{conv}#{turn}#{s}", "LINKED_TO", f"concept:{cui}"))
        if cui != ccui:
            triples.add((f"concept:{cui}", "SAME_AS", f"concept:{ccui}"))
    return triples, mentions


def gold_mentions(transcript_rows, gazetteer):
    """Gold mention rows (conv_id, turn_idx, tok_start, tok_end,
    mention_text, concept_type) — concept_type from the linked entry."""
    links = best_links(gazetteer)
    terms = set(links)
    out = []
    for row in transcript_rows:
        for (s, e, mtext) in scan_mentions(row["text"], terms):
            out.append(
                {
                    "conv_id": row["conv_id"],
                    "turn_idx": row["turn_idx"],
                    "tok_start": s,
                    "tok_end": e,
                    "mention_text": mtext,
                    "concept_type": links[mtext.lower()][1],
                }
            )
    return out

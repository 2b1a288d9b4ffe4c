"""Expected outputs, computed without Spark, and the checks against them.

- kg_build: the deduplicated 5-field quad identities that `oracle.py`
  gives for extract -> fuzzy link -> canonicalize, with the char-3-gram
  linking score replayed here in Python.
- kg_resume: per bucket, the union of the same oracle's extraction for the
  conversations in that bucket (no linking or canonicalization: the bench's
  `process` is extract + dedup).
- doc_dedup: ngram_jaccard_pairs against exact word-3-gram Jaccard pairs
  replayed in DuckDB; dedup_clusters against a replay of its min-hash LSH
  (Spark's xxhash64, same permutations and bands), whose verified pairs
  must all be exact pairs, labelled by component min doc id.

A check compares the sorted 64-bit row hashes of the output with those of
the expectation, so one dropped, added or altered row fails it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from quad_processor_util_spark.operators.dedup import _MERSENNE, _perm_coeffs
from quad_processor_util_spark.oracle import (
    EX,
    XSD_STRING,
    Gazetteer,
    PyQuad,
    apply_overlap_policy,
    canonicalize_quads,
    extract_triples_from_text,
    find_unknown_mentions,
    resolve_canonical,
)

import gen

IDENTITY = ["subject", "predicate", "obj", "datatype", "language"]
LINK_MIN_JACCARD = 0.4
CLUSTER_THRESHOLD = 0.7
PAIR_THRESHOLD = 0.8


def row_hashes(df: pd.DataFrame, cols: list[str]) -> np.ndarray:
    """Sorted uint64 hashes of the rows of df[cols] (order-free digest)."""
    if not len(df):
        return np.zeros(0, dtype=np.uint64)
    h = pd.util.hash_pandas_object(df[cols], index=False).to_numpy()
    return np.sort(h)


def same_rows(a: np.ndarray, b: np.ndarray) -> bool:
    return len(a) == len(b) and bool(np.array_equal(a, b))


# --------------------------------------------------------------------------
# kg
# --------------------------------------------------------------------------


def _gazetteer(catalog: pd.DataFrame) -> dict[str, str]:
    """surface -> IRI, max form_weight wins, ties to the smaller IRI."""
    best: dict[str, tuple[float, str]] = {}
    for iri, form, w in zip(catalog.entity_iri, catalog.surface_form,
                            catalog.form_weight):
        cur = best.get(form)
        if cur is None or (-w, iri) < (-cur[0], cur[1]):
            best[form] = (w, iri)
    return {f: v[1] for f, v in best.items()}


def _grams(s: str) -> set[str]:
    s = s.strip(" ").lower()
    k = len(s) - 2
    return {s[i:i + 3] for i in range(k)} if k > 0 else {s}


def link_replay(surfaces: set[str], catalog: pd.DataFrame) -> dict[str, str]:
    """operators.linking.link_surface_forms replayed: char-3-gram Jaccard
    >= 0.4 per distinct (surface, form), score = jaccard * form_weight,
    best score per surface, ties to the smaller entity IRI."""
    forms: dict[str, list[tuple[str, float]]] = {}
    for iri, form, w in zip(catalog.entity_iri, catalog.surface_form,
                            catalog.form_weight):
        forms.setdefault(form, []).append((iri, float(w)))
    fgrams = {f: _grams(f) for f in forms}
    out = {}
    for s in surfaces:
        g = _grams(s)
        best = None
        for f, fg in fgrams.items():
            inter = len(g & fg)
            if not inter:
                continue
            jac = inter / (len(g) + len(fg) - inter)
            if jac < LINK_MIN_JACCARD:
                continue
            for iri, w in forms[f]:
                key = (-(jac * w), iri)
                if best is None or key < best:
                    best = key
        if best is not None:
            out[s] = best[1]
    return out


def _text_table(texts, gaz: Gazetteer):
    """Per distinct text: (graph-free identity triples, unknown surfaces)."""
    triples, unknown = [], []
    for t in texts:
        ms = apply_overlap_policy(gaz.find_all(t), "LONGEST_DOMINANT_RIGHT")
        triples.append(extract_triples_from_text(t, gaz, None, mentions=ms))
        unknown.append(find_unknown_mentions(t, ms))
    return triples, unknown


def _frame(quads) -> pd.DataFrame:
    return pd.DataFrame(list(quads), columns=IDENTITY)


def kg_expected(inp: dict) -> dict:
    """-> {"build": identities after the full pipeline,
           "resume": {bucket: identities of extract+dedup on that bucket}}"""
    tr = inp["transcripts"]
    gaz = Gazetteer(_gazetteer(inp["catalog"]))
    codes, texts = pd.factorize(tr["text"])
    triples, unknown = _text_table(list(texts), gaz)
    turn_iri = ("http://example.org/conv/" + tr["conv_id"] + "/turn/"
                + tr["turn_idx"].astype(str)).to_numpy()
    tool_mask = ((tr["role"] == "tool") & tr["tool"].notna()
                 & (tr["tool"] != "")).to_numpy()
    tools = tr["tool"].to_numpy()

    # kg_resume: raw extraction, per bucket
    bucket_of_conv = dict(zip(
        tr["conv_id"].unique(),
        gen.bucket_of(list(tr["conv_id"].unique()))))
    bucket = tr["conv_id"].map(bucket_of_conv).to_numpy()
    resume = {}
    for b in range(gen.N_BUCKETS):
        rows = set()
        in_b = bucket == b
        for c in np.unique(codes[in_b]):
            rows.update(q.identity() for q in triples[c])
        for i in np.flatnonzero(in_b & tool_mask):
            rows.add((turn_iri[i], EX + "toolUsed", tools[i], XSD_STRING,
                      None))
        resume[b] = _frame(rows)

    # kg_build: fuzzy link -> canonicalize -> dedup
    links = link_replay({s for u in unknown for s in u}, inp["catalog"])
    edges = list(inp["alias_edges"].itertuples(index=False, name=None))
    mapping, excluded = resolve_canonical(edges)
    quads = [q for qs in triples for q in qs]
    for i, c in enumerate(codes):
        for s in unknown[c]:
            if s in links:
                quads.append(PyQuad(turn_iri[i], EX + "mentions", links[s]))
    quads += [PyQuad(turn_iri[i], EX + "toolUsed", tools[i], XSD_STRING)
              for i in np.flatnonzero(tool_mask)]
    build = {q.identity()
             for q in canonicalize_quads(quads, mapping, excluded)}
    return {"build": _frame(build), "resume": resume}


def read_quads(path: str) -> pd.DataFrame:
    """The quad table a job wrote (hive-partitioned parquet), identity
    columns only; read with pyarrow, not Spark."""
    import pyarrow.dataset as ds

    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=IDENTITY)
    return t.to_pandas()


def check_build(out_path: str, want: np.ndarray) -> bool:
    return same_rows(row_hashes(read_quads(out_path), IDENTITY), want)


def check_resume(out_path: str, buckets: list[int],
                 want: dict[int, np.ndarray]) -> bool:
    """Exactly the given buckets were written, each equal to its
    expectation (bucket-local dedup: one row per identity per bucket)."""
    import os

    written = sorted(int(d.split("=", 1)[1]) for d in os.listdir(out_path)
                     if d.startswith("bucket="))
    if written != sorted(buckets):
        return False
    return all(
        same_rows(row_hashes(read_quads(os.path.join(out_path, f"bucket={b}")),
                             IDENTITY), want[b])
        for b in buckets)


# --------------------------------------------------------------------------
# doc_dedup
# --------------------------------------------------------------------------


def _shingles(text: str) -> list[str]:
    """operators.dedup.word_shingles on a lowercase single-spaced text:
    distinct word 3-grams in first-seen order."""
    w = text.split(" ")
    if len(w) < 3:
        return [text]
    return list(dict.fromkeys(" ".join(w[i:i + 3])
                              for i in range(len(w) - 2)))


def lsh_verified_pairs(docs: pd.DataFrame, num_hashes: int = 36,
                       bands: int = 6, seed: int = 42) -> set[tuple[int, int]]:
    """operators.dedup.dedup_clusters' pairs, replayed: min-hash signatures
    over pmod(xxhash64(shingle), 2^31-1), docs sharing all rows of any band
    are candidates, candidates with word-3-gram Jaccard >= 0.7 are kept."""
    ids = docs["doc_id"].to_numpy()
    sets = [_shingles(t) for t in docs["text"]]
    vocab = sorted({s for ss in sets for s in ss})
    by_len: dict[int, list[str]] = {}
    for s in vocab:
        by_len.setdefault(len(s.encode()), []).append(s)
    h = {}
    for group in by_len.values():
        vals = gen.xxhash64(group).view(np.int64) % _MERSENNE
        h.update(zip(group, vals.tolist()))
    coeffs = np.array(_perm_coeffs(num_hashes, seed), dtype=np.int64)
    rows = num_hashes // bands
    buckets: dict[tuple, list[int]] = {}
    for doc, ss in zip(ids.tolist(), sets):
        hv = np.array([h[s] for s in ss], dtype=np.int64)
        sig = ((hv[None, :] * coeffs[:, :1] + coeffs[:, 1:]) % _MERSENNE
               ).min(axis=1)
        for b in range(bands):
            key = (b,) + tuple(sig[b * rows:(b + 1) * rows].tolist())
            buckets.setdefault(key, []).append(doc)
    cands = {(a, b) for members in buckets.values() if len(members) > 1
             for a in members for b in members if a < b}
    sset = {d: set(ss) for d, ss in zip(ids.tolist(), sets)}
    return {(a, b) for a, b in cands
            if len(sset[a] & sset[b]) / len(sset[a] | sset[b])
            >= CLUSTER_THRESHOLD}


def _components(ids, pairs) -> pd.DataFrame:
    parent = {int(d): int(d) for d in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(int(a)), find(int(b))
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    labels = pd.DataFrame({"doc_id": list(parent)})
    labels["cluster_id"] = [find(d) for d in labels["doc_id"]]
    return labels


def exact_pairs(docs: pd.DataFrame, threshold: float) -> pd.DataFrame:
    """All (id_a < id_b, jaccard) with word-3-gram Jaccard >= threshold,
    by an inverted-index self-join in DuckDB."""
    import duckdb

    con = duckdb.connect()
    try:
        con.register("docs", docs)
        return con.execute(f"""
            WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM docs),
            g AS (
              SELECT doc_id, unnest(list_distinct(list_transform(
                       range(1, len(w) - 1),
                       i -> array_to_string(w[i:i + 2], ' ')))) AS sh
              FROM w),
            sz AS (SELECT doc_id, count(*) AS n FROM g GROUP BY doc_id),
            inter AS (
              SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS k
              FROM g a JOIN g b ON a.sh = b.sh AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
            SELECT id_a, id_b, k / (sa.n + sb.n - k) AS jaccard
            FROM inter
            JOIN sz sa ON sa.doc_id = id_a
            JOIN sz sb ON sb.doc_id = id_b
            WHERE k / (sa.n + sb.n - k) >= {threshold}
            ORDER BY id_a, id_b
        """).df()
    finally:
        con.close()


def docs_expected(docs: pd.DataFrame) -> dict:
    """-> {"pairs": ngram_jaccard_pairs' output (exact, DuckDB),
           "labels": dedup_clusters' output (LSH replay + components)}.

    Component consistency: every replayed LSH pair must be an exact pair
    at the clustering threshold, so each cluster is connected by exact
    near-duplicate edges."""
    exact = exact_pairs(docs, CLUSTER_THRESHOLD)
    verified = lsh_verified_pairs(docs)
    if not verified <= set(zip(exact.id_a.tolist(), exact.id_b.tolist())):
        raise AssertionError("LSH replay found a pair below the threshold")
    keep = exact[exact.jaccard >= PAIR_THRESHOLD].reset_index(drop=True)
    return {"pairs": keep, "labels": _components(docs["doc_id"], verified)}


def pair_hashes(pairs: pd.DataFrame) -> np.ndarray:
    p = pairs[["id_a", "id_b"]].astype("int64").copy()
    p["j"] = np.round(pairs["jaccard"].to_numpy(dtype=float) * 1e6).astype(
        "int64")
    return row_hashes(p, ["id_a", "id_b", "j"])


def label_hashes(labels: pd.DataFrame) -> np.ndarray:
    return row_hashes(labels[["doc_id", "cluster_id"]].astype("int64"),
                      ["doc_id", "cluster_id"])

"""Seeded inputs for the benchmark workloads.

Everything that moves a metric is fixed by a *shape* RNG that ignores the
seed: the exact row counts, the conversation-length and sentence-count
profiles, the number of distinct texts and how often each repeats, the
tool-turn count, the per-bucket turn totals, every text's skeleton
(sentence kinds, which entity or vocabulary slot fills each place, word
lengths) and the planted-duplicate clusters. The seed only spells the
content: the letters of names and words, numbers, timestamps,
conversation ids, doc ids and row order. Two seeds give different
data that cost the same work.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from quad_processor_util_spark.oracle import DBR, mint_dbpedia_iri

SHAPE_SEED = 20261017

# kg_build / kg_resume transcripts
KG_TURNS = 60_000
KG_DISTINCT_TEXTS = 24_000
KG_TOOL_TURNS = 9_000
N_BUCKETS = 8
N_PEOPLE, N_ORGS, N_CITIES = 240, 80, 60
N_MISSPELLED = 160
N_ALIAS_CHAINS = 400
N_EXCLUDED = 4
TOOLS = ["search", "calculator", "code_interpreter", "web_browser",
         "sql_runner"]

# doc_dedup documents
DOCS = 2_500
VOCAB = 20_000
PLANTED_CLUSTERS = 200
DOC_WORDS = (30, 60)

_ORG_KIND = ["Labs", "Systems", "Press", "Institute", "Works", "Foundry"]
# Capitalized noise words spelled only from letters that no catalog name
# uses, so they are unknown mentions that never link (3-gram Jaccard 0).
_NOISE = [
    "Chyx wants the docs for that.",
    "Whyq has the summary you asked for.",
    "Jyxx likes chit-chat about the weather.",
    "Qwyc says numbers like 42 and 3.14 appear here.",
    "Xyhw said hello and left.",
    "Yxch thinks that helps a lot.",
]


# --------------------------------------------------------------------------
# Spark's xxhash64 on strings (XXH64 of the UTF-8 bytes, seed 42), vectorized
# over equal-length byte strings. The generator uses it to give every bucket
# of the at-rest layout the same turn total on every seed; the bench tests
# pin it against Spark's own xxhash64.
# --------------------------------------------------------------------------

_P1 = np.uint64(11400714785074694791)
_P2 = np.uint64(14029467366897019727)
_P3 = np.uint64(1609587929392839161)
_P4 = np.uint64(9650029242287828579)
_P5 = np.uint64(2870177450012600261)


def _rotl(x, r):
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _round(acc, lane):
    return _rotl(acc + lane * _P2, 31) * _P1


def xxhash64(strings: list[str], seed: int = 42) -> np.ndarray:
    """uint64 XXH64 of each string's UTF-8 bytes; all must share one byte
    length. Spark's ``xxhash64(col)`` is this value read as a signed long,
    so ``pmod(xxhash64(col), n)`` is ``xxhash64(...) % n`` for n a power of
    two."""
    raw = [s.encode() for s in strings]
    n = len(raw[0])
    if any(len(b) != n for b in raw):
        raise ValueError("xxhash64: strings must have equal byte length")
    buf = np.frombuffer(b"".join(raw), dtype=np.uint8).reshape(len(raw), n)
    s = np.uint64(seed)
    with np.errstate(over="ignore"):
        off = 0
        if n >= 32:
            v = [s + _P1 + _P2, s + _P2, s + np.uint64(0), s - _P1]
            v = [np.full(len(raw), x, dtype=np.uint64) for x in v]
            while off + 32 <= n:
                for i in range(4):
                    lane = buf[:, off + 8 * i:off + 8 * i + 8].copy().view(
                        "<u8")[:, 0]
                    v[i] = _round(v[i], lane)
                off += 32
            h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
                 + _rotl(v[3], 18))
            for i in range(4):
                h = (h ^ _round(np.uint64(0), v[i])) * _P1 + _P4
        else:
            h = np.full(len(raw), s + _P5, dtype=np.uint64)
        h = h + np.uint64(n)
        while off + 8 <= n:
            lane = buf[:, off:off + 8].copy().view("<u8")[:, 0]
            h = _rotl(h ^ _round(np.uint64(0), lane), 27) * _P1 + _P4
            off += 8
        if off + 4 <= n:
            lane = buf[:, off:off + 4].copy().view("<u4")[:, 0].astype(
                np.uint64)
            h = _rotl(h ^ (lane * _P1), 23) * _P2 + _P3
            off += 4
        while off < n:
            h = _rotl(h ^ (buf[:, off].astype(np.uint64) * _P5), 11) * _P1
            off += 1
        h ^= h >> np.uint64(33)
        h *= _P2
        h ^= h >> np.uint64(29)
        h *= _P3
        h ^= h >> np.uint64(32)
    return h


def bucket_of(conv_ids: list[str], n_buckets: int = N_BUCKETS) -> np.ndarray:
    """Spark's ``pmod(xxhash64(conv_id), n_buckets)`` (checkpoint.bucket_expr)."""
    return (xxhash64(conv_ids) % np.uint64(n_buckets)).astype(np.int64)


# --------------------------------------------------------------------------
# shape (seed-independent)
# --------------------------------------------------------------------------


def _conv_lengths(rng: np.random.Generator) -> np.ndarray:
    """Zipf conversation lengths in [1, 200] summing to exactly KG_TURNS."""
    out, total = [], 0
    while total < KG_TURNS:
        n = int(min(1 + rng.zipf(1.6) % 200, KG_TURNS - total))
        out.append(n)
        total += n
    return np.array(out, dtype=np.int64)


def _balanced_buckets(lengths: np.ndarray) -> np.ndarray:
    """Greedy longest-first assignment of conversations to buckets so each
    bucket holds the same turn total (to within one short conversation)."""
    totals = np.zeros(N_BUCKETS, dtype=np.int64)
    target = np.empty(len(lengths), dtype=np.int64)
    for i in np.argsort(-lengths, kind="stable"):
        b = int(np.argmin(totals))
        target[i] = b
        totals[b] += lengths[i]
    return target


def _text_multiplicity(rng: np.random.Generator) -> np.ndarray:
    """How many turns reuse each distinct text: every text at least once,
    the remaining turns spread Zipf-like over the texts."""
    extra = KG_TURNS - KG_DISTINCT_TEXTS
    w = 1.0 / np.arange(1, KG_DISTINCT_TEXTS + 1) ** 0.9
    return 1 + rng.multinomial(extra, w / w.sum())


def _sentence_counts(rng: np.random.Generator) -> np.ndarray:
    """Zipf sentences per distinct text in [1, 6]."""
    return np.minimum(1 + (rng.zipf(2.0, KG_DISTINCT_TEXTS) - 1) % 6, 6)


# --------------------------------------------------------------------------
# kg inputs
# --------------------------------------------------------------------------


_CONS = "bdfgklmnprstvz"
_VOWELS = "aeiou"


def _words(rng: np.random.Generator, n_syl: np.ndarray,
           used: set[str]) -> list[str]:
    """One capitalized consonant-vowel word per entry of n_syl (its
    syllable count, so its length, comes from the shape); letters from the
    seed; every word unique, so no two catalog forms share a word."""
    out = []
    for k in n_syl:
        while True:
            w = "".join(_CONS[int(rng.integers(0, len(_CONS)))]
                        + _VOWELS[int(rng.integers(0, len(_VOWELS)))]
                        for _ in range(int(k))).capitalize()
            if w not in used:
                used.add(w)
                out.append(w)
                break
    return out


def _catalog_names(shape: np.random.Generator, rng: np.random.Generator):
    """(people, orgs, cities). People are 'First Last' (the last name is
    also a form: the only overlapping forms), orgs 'Word <kind>', cities
    'Word City'. Word lengths and org kinds come from the shape."""
    used: set[str] = set()
    syl = shape.integers(2, 4, 2 * N_PEOPLE + N_ORGS + N_CITIES)
    kinds = shape.integers(0, len(_ORG_KIND), N_ORGS)
    words = _words(rng, syl, used)
    people = [f"{words[2 * i]} {words[2 * i + 1]}" for i in range(N_PEOPLE)]
    w = words[2 * N_PEOPLE:]
    orgs = [f"{w[i]} {_ORG_KIND[int(kinds[i])]}" for i in range(N_ORGS)]
    cities = [f"{w[N_ORGS + i]} City" for i in range(N_CITIES)]
    return people, orgs, cities


def _misspell(name: str, word: int, pos: int) -> str:
    """Drop one inner letter of one word: still a capitalized run, no
    longer a gazetteer form, close enough to link by 3-grams."""
    words = name.split(" ")
    w = words[word % len(words)]
    j = 1 + pos % (len(w) - 2)
    words[word % len(words)] = w[:j] + w[j + 1:]
    return " ".join(words)


def kg_inputs(seed: int) -> dict:
    """-> {transcripts, catalog, alias_edges}: pandas frames for one seed.

    transcripts(conv_id, turn_idx, role, text, tool, ts) has exactly
    KG_TURNS rows in shuffled order, KG_DISTINCT_TEXTS distinct texts and
    KG_TOOL_TURNS tool turns; every bucket of the N_BUCKETS resume layout
    holds the same turn total on every seed. The shape also fixes every
    text's skeleton (sentence kinds, which entity index fills each slot,
    word lengths), so the seed changes letters and numbers, not the work."""
    shape = np.random.default_rng(SHAPE_SEED)
    lengths = _conv_lengths(shape)
    buckets = _balanced_buckets(lengths)
    mult = _text_multiplicity(shape)
    n_sent = _sentence_counts(shape)
    rng = np.random.default_rng(seed)

    people, orgs, cities = _catalog_names(shape, rng)
    rows = []
    for p in people:
        rows.append((mint_dbpedia_iri(p), p, 1.0, "person"))
        rows.append((mint_dbpedia_iri(p), p.split(" ")[-1], 0.5, "person"))
    rows += [(mint_dbpedia_iri(o), o, 1.0, "org") for o in orgs]
    rows += [(mint_dbpedia_iri(c), c, 1.0, "city") for c in cities]
    catalog = pd.DataFrame(rows, columns=["entity_iri", "surface_form",
                                          "form_weight", "entity_type"])
    forms = people + orgs + cities
    mis = shape.integers(0, 1 << 30, (N_MISSPELLED, 3))
    misspelled = [_misspell(forms[int(f) % len(forms)], int(w), int(p))
                  for f, w, p in mis]

    n_total = int(n_sent.sum())
    kind = shape.random(n_total)
    slot = shape.integers(0, 1 << 30, (n_total, 4))
    lang = ["en", "es", "de", "pt-br"]

    def sentence(i: int) -> str:
        r, (sa, sb, sc, sd) = kind[i], slot[i]
        a, b = people[sa % N_PEOPLE], orgs[sb % N_ORGS]
        c = cities[sc % N_CITIES]
        if r < 0.15:
            return f"{a} works at {b}."
        if r < 0.27:
            return f"{a} was born in {c}."
        if r < 0.36:
            return f"{a} founded {b}."
        if r < 0.44:
            return f"{b} is located in {c}."
        if r < 0.50:
            return f"{c} has population {int(rng.integers(10**6, 10**7))}."
        if r < 0.56:
            return f'{a} is known as "the {a.split()[0].lower()}"@{lang[sd % 4]}.'
        if r < 0.63:
            return f"{a} collaborated with {people[sd % N_PEOPLE]}."
        if r < 0.73:
            return f"I think {misspelled[sd % N_MISSPELLED]} said so."
        return _NOISE[sd % len(_NOISE)]

    texts, i = [], 0
    for t in range(KG_DISTINCT_TEXTS):
        k = int(n_sent[t])
        body = " ".join(sentence(j) for j in range(i, i + k))
        i += k
        # the ticket number makes every text distinct by construction
        texts.append(f"{body} ticket {t}.")

    text_of_turn = np.repeat(np.arange(KG_DISTINCT_TEXTS), mult)
    shape.shuffle(text_of_turn)
    is_tool = np.zeros(KG_TURNS, dtype=bool)
    is_tool[shape.choice(KG_TURNS, KG_TOOL_TURNS, replace=False)] = True

    conv_ids = _conv_ids(seed, buckets)
    conv_col = np.repeat(np.array(conv_ids, dtype=object), lengths)
    starts = np.repeat(np.cumsum(lengths) - lengths, lengths)
    turn_idx = (np.arange(KG_TURNS) - starts).astype(np.int32)
    role = np.where(is_tool, "tool",
                    np.where(shape.random(KG_TURNS) < 0.5, "user",
                             "assistant"))
    tool = np.where(is_tool, np.array(TOOLS, dtype=object)[
        shape.integers(0, len(TOOLS), KG_TURNS)], None)
    ts = (np.datetime64("2026-01-01T00:00:00", "us")
          + rng.integers(0, 86400 * 30 * 10**6, KG_TURNS).astype(
              "timedelta64[us]"))
    tr = pd.DataFrame({
        "conv_id": conv_col,
        "turn_idx": turn_idx,
        "role": role.astype(object),
        "text": np.array(texts, dtype=object)[text_of_turn],
        "tool": tool,
        "ts": ts,
    })
    perm = rng.permutation(KG_TURNS)
    tr = tr.iloc[perm].reset_index(drop=True)
    return {"transcripts": tr, "catalog": catalog,
            "alias_edges": _alias_edges(forms)}


def _conv_ids(seed: int, target: np.ndarray) -> list[str]:
    """Fixed-length conv ids whose Spark bucket equals `target`: retry a
    salt per conversation until pmod(xxhash64(id), N_BUCKETS) matches."""
    tag = f"{(seed * 2654435761) % (1 << 32):08x}"
    salt = np.zeros(len(target), dtype=np.int64)
    ids = [""] * len(target)
    todo = np.arange(len(target))
    while len(todo):
        cand = [f"cv-{tag}-{i:06d}-{salt[i]:04d}" for i in todo]
        ok = bucket_of(cand) == target[todo]
        for i, c, good in zip(todo, cand, ok):
            if good:
                ids[i] = c
        salt[todo[~ok]] += 1
        todo = todo[~ok]
    return ids


def _alias_edges(forms: list[str]) -> pd.DataFrame:
    """Redirect/sameAs chains (depth 1-5) into catalog entities, a 3-cycle,
    and N_EXCLUDED disambiguation sources that are themselves catalog
    entities, so quads touching them are dropped. Which entities, and the
    depths, come from the shape; only the entity names differ by seed."""
    shape = np.random.default_rng(SHAPE_SEED + 1)
    depth = shape.integers(1, 6, N_ALIAS_CHAINS)
    canon = [mint_dbpedia_iri(f) for f in forms]
    rows = []
    for i in range(N_ALIAS_CHAINS):
        prev = canon[int(shape.integers(0, len(canon)))]
        for d in range(int(depth[i])):
            node = f"{DBR}Alias_{i}_{d}"
            rows.append((node, prev, "redirect" if d % 2 == 0 else "sameAs"))
            prev = node
    rows += [(f"{DBR}CycleA", f"{DBR}CycleB", "sameAs"),
             (f"{DBR}CycleB", f"{DBR}CycleC", "sameAs"),
             (f"{DBR}CycleC", f"{DBR}CycleA", "sameAs")]
    for i in shape.choice(len(canon), N_EXCLUDED, replace=False):
        rows.append((canon[int(i)], f"{DBR}Disambiguation_{int(i)}",
                     "disambiguation"))
    return pd.DataFrame(rows, columns=["src_iri", "dst_iri", "edge_kind"])


# --------------------------------------------------------------------------
# doc_dedup inputs
# --------------------------------------------------------------------------


def _cluster_sizes(rng: np.random.Generator) -> np.ndarray:
    return rng.integers(2, 6, PLANTED_CLUSTERS)


def docs_inputs(seed: int) -> pd.DataFrame:
    """documents(doc_id BIGINT, text STRING): exactly DOCS bag-of-words
    documents of DOC_WORDS words, PLANTED_CLUSTERS near-duplicate clusters
    of fixed sizes (a centre plus variants with one to three substituted
    words: word-3-gram Jaccard from about 0.6 to 1, so LSH finds some
    pairs and misses others) and unrelated singletons (Jaccard ~ 0).

    The shape fixes which vocabulary slot every word position uses and
    each slot's length; the seed spells the vocabulary and assigns doc
    ids."""
    shape = np.random.default_rng(SHAPE_SEED + 2)
    sizes = _cluster_sizes(shape)
    n_single = DOCS - int(sizes.sum())
    if n_single < 0:
        raise ValueError("planted clusters exceed DOCS")
    n_base = PLANTED_CLUSTERS + n_single
    base_len = shape.integers(DOC_WORDS[0], DOC_WORDS[1] + 1, n_base)
    n_subst = shape.integers(1, 4, DOCS)
    word_len = shape.integers(4, 10, VOCAB)
    bases = [shape.integers(0, VOCAB, int(n)) for n in base_len]

    rng = np.random.default_rng(seed)
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab, used = [], set()
    for n in word_len:
        while True:
            w = "".join(letters[int(i)] for i in rng.integers(0, 26, int(n)))
            if w not in used:
                used.add(w)
                vocab.append(w)
                break
    vocab_arr = np.array(vocab, dtype=object)

    docs = []
    k = 0
    for c in range(PLANTED_CLUSTERS):
        centre = bases[c]
        docs.append(centre)
        k += 1
        for _ in range(int(sizes[c]) - 1):
            words = centre.copy()
            pos = shape.choice(np.arange(3, len(words) - 3), int(n_subst[k]),
                               replace=False)
            words[pos] = shape.integers(0, VOCAB, len(pos))
            docs.append(words)
            k += 1
    docs += bases[PLANTED_CLUSTERS:]
    ids = rng.permutation(DOCS).astype(np.int64)
    texts = [" ".join(vocab_arr[d]) for d in docs]
    return pd.DataFrame({"doc_id": ids, "text": texts}).sort_values(
        "doc_id", kind="stable").reset_index(drop=True)

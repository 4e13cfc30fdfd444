"""Seeded input generators for the KG-construction benchmark.

Every input is a pure function of the seed: the same seed gives the same
pages, surfaces, mentions and triples. Nothing here reads the package's
fixtures or any external test data, so changing either cannot move the
benchmark's numbers. The generators also record what they plant (golden
triples, mention counts, the surface inventory), which the output checks
in ``checks.py`` compare against.

Alphabet. Entity surfaces are drawn from clusters of 31 consecutive CJK
code points whose starts are 1024 code points apart. The program hashes a
character bigram (a, b) as 31*a + b; inside such an alphabet two distinct
bigrams never share a hash (31*(a - a') = b' - b has no solution with
a != a'), so the program's hashed-shingle Jaccard equals the exact string
bigram Jaccard the checks compute in plain Python.
"""

from __future__ import annotations

import bisect
import datetime
import random

# Connectives per predicate (CJK arms of the engine's frozen pattern
# table, restated here so a change to that table shows up as a check
# failure rather than silently moving the golden set).
CONNECTIVES: dict[str, tuple[str, ...]] = {
    "works_for": ("任职", "就职", "工作", "供职"),
    "located_in": ("位于", "地处", "坐落"),
    "member_of": ("隶属", "属于"),
    "founded": ("创立", "创办", "成立"),
    "visited": ("访问", "到访", "考察"),
    "met_with": ("会见", "会晤"),
}
PREDICATES = tuple(CONNECTIVES)
ETYPES = ("PER", "LOC", "ORG")
CLASS_ID = {"PER": 0, "LOC": 1, "ORG": 2}
SENT_DELIMS = "。！？"
OTHER_LANGS = ("en", "de", "fr", "ja")

_CONN_CHARS = {c for arms in CONNECTIVES.values() for a in arms for c in a}
_CLUSTERS_PER_TYPE = 6


def _alphabets() -> tuple[dict[str, list[str]], list[str]]:
    """(entity chars per type, filler chars): 18 clusters of 31 code
    points 1024 apart (see module docstring), dealt round-robin to the
    three entity types; filler comes from outside every cluster. Neither
    set contains a connective character."""
    ent: dict[str, list[str]] = {t: [] for t in ETYPES}
    filler: list[str] = []
    for i in range(_CLUSTERS_PER_TYPE * len(ETYPES)):
        base = 0x4E00 + 1024 * i
        etype = ETYPES[i % len(ETYPES)]
        ent[etype] += [chr(base + j) for j in range(31)
                       if chr(base + j) not in _CONN_CHARS]
        filler += [chr(base + 512 + j) for j in range(8)
                   if chr(base + 512 + j) not in _CONN_CHARS]
    return ent, filler


ENTITY_CHARS, FILLER_CHARS = _alphabets()


def bigrams(s: str) -> frozenset[str]:
    """Distinct char bigrams (a string shorter than 2 is its own gram —
    the program's shingle rule)."""
    if len(s) < 2:
        return frozenset([s])
    return frozenset(s[i:i + 2] for i in range(len(s) - 1))


def build_vocab() -> tuple[dict[str, int], dict[str, int]]:
    """(word2id, class_of_token) over every character the generators
    emit. Entity characters carry their type's class; everything else
    (filler, connectives, delimiters, <NUM>/<ENG>/<UNK>) is class O."""
    word2id = {"<PAD>": 0}
    class_of: dict[str, int] = {}
    for etype in ETYPES:
        for ch in ENTITY_CHARS[etype]:
            word2id[ch] = len(word2id)
            class_of[ch] = CLASS_ID[etype]
    for ch in [*FILLER_CHARS, *sorted(_CONN_CHARS), *SENT_DELIMS]:
        word2id.setdefault(ch, len(word2id))
    for tok in ("<NUM>", "<ENG>", "<UNK>"):
        word2id[tok] = len(word2id)
    return word2id, class_of


def reference_shape_weights(word2id: dict[str, int], class_of: dict[str, int]):
    """The planted class tagger of ``model.weights.build_class_weights``
    embedded in the reference D = H = 300 shape: its units keep their
    gate and projection wiring, every extra unit gets zero weights and
    bias. An extra unit's cell input is tanh(0) = 0, so its state and
    output stay exactly zero and the tags equal the small model's, while
    every matrix product has the reference model's cost."""
    import numpy as np

    from zh_ner_tf_spark.config import EMBEDDING_DIM, HIDDEN_DIM
    from zh_ner_tf_spark.model.weights import build_class_weights

    small = build_class_weights(word2id, class_of)
    d = small["embeddings"].shape[1]
    h = small["lstm_fw_kernel"].shape[1] // 4
    D, H = EMBEDDING_DIM, HIDDEN_DIM
    out = {"transitions": small["transitions"].copy(),
           "proj_b": small["proj_b"].copy()}
    emb = np.zeros((small["embeddings"].shape[0], D), dtype=np.float32)
    emb[:, :d] = small["embeddings"]
    out["embeddings"] = emb
    rows = np.concatenate([np.arange(d), D + np.arange(h)])
    for side in ("fw", "bw"):
        k_small = small[f"lstm_{side}_kernel"]
        b_small = small[f"lstm_{side}_bias"]
        k = np.zeros((D + H, 4 * H), dtype=np.float32)
        b = np.zeros(4 * H, dtype=np.float32)
        for g in range(4):
            cols = g * H + np.arange(h)
            k[np.ix_(rows, cols)] = k_small[:, g * h:(g + 1) * h]
            b[cols] = b_small[g * h:(g + 1) * h]
        out[f"lstm_{side}_kernel"] = k
        out[f"lstm_{side}_bias"] = b
    proj = np.zeros((2 * H, small["proj_W"].shape[1]), dtype=np.float32)
    proj[:h] = small["proj_W"][:h]
    proj[H:H + h] = small["proj_W"][h:]
    out["proj_W"] = proj
    return out


class SurfacePool:
    """Entity surfaces in families of near-duplicate spellings.

    Each family has a base of 3-5 characters of one type and up to three
    variants (last character replaced, one character appended, first
    character dropped). Surfaces whose bigram set equals an earlier
    surface's are skipped, so two different strings never look identical
    to a bigram matcher. ``shared_suffix`` adds that many five-character
    ORG surfaces ending in one common bigram (the slice that makes large
    blocking buckets). ``order[etype]`` lists the type's surfaces in a
    seeded random order; position in it is the surface's popularity
    rank."""

    def __init__(self, rng: random.Random, n_families: int,
                 shared_suffix: int = 0):
        self.etype_of: dict[str, str] = {}
        seen_grams: set[frozenset[str]] = set()

        def add(s: str, etype: str) -> None:
            g = bigrams(s)
            if s in self.etype_of or g in seen_grams:
                return
            seen_grams.add(g)
            self.etype_of[s] = etype

        type_weights = (0.4, 0.25, 0.35)  # PER, LOC, ORG
        for _ in range(n_families):
            etype = rng.choices(ETYPES, type_weights)[0]
            chars = ENTITY_CHARS[etype]
            base = "".join(rng.choice(chars) for _ in range(rng.choice((3, 4, 4, 5))))
            add(base, etype)
            for _ in range(rng.choice((0, 0, 1, 1, 2, 3))):
                kind = rng.random()
                if kind < 0.4:
                    v = base[:-1] + rng.choice(chars)
                elif kind < 0.8:
                    v = base + rng.choice(chars)
                else:
                    v = base[1:] if len(base) > 3 else base + base[0]
                add(v, etype)
        if shared_suffix:
            orgs = ENTITY_CHARS["ORG"]
            suffix = orgs[0] + orgs[1]
            target = len(self.etype_of) + shared_suffix
            while len(self.etype_of) < target:
                add("".join(rng.choice(orgs[2:]) for _ in range(3)) + suffix, "ORG")
        self.order: dict[str, list[str]] = {t: [] for t in ETYPES}
        for s, t in self.etype_of.items():
            self.order[t].append(s)
        for t in ETYPES:
            rng.shuffle(self.order[t])

    def __len__(self) -> int:
        return len(self.etype_of)


def zipf_cum(n: int, s: float = 1.1) -> list[float]:
    """Cumulative Zipf(s) weights over ranks 0..n-1."""
    out, acc = [], 0.0
    for r in range(n):
        acc += 1.0 / (r + 1) ** s
        out.append(acc)
    return out


class SurfaceSampler:
    """Zipf draws over a pool's popularity ranks. ``visible`` limits the
    draws to the first k surfaces of each type (the surfaces a crawl has
    seen so far); ``fresh()`` hands out the next unseen one."""

    def __init__(self, pool: SurfacePool, visible: dict[str, int] | None = None):
        self.pool = pool
        self.visible = dict(visible) if visible else {
            t: len(pool.order[t]) for t in ETYPES}
        self._cum = {t: zipf_cum(len(pool.order[t])) for t in ETYPES}

    def draw(self, rng: random.Random, etype: str) -> str:
        k = self.visible[etype]
        cum = self._cum[etype]
        r = bisect.bisect_right(cum, rng.random() * cum[k - 1])
        return self.pool.order[etype][min(r, k - 1)]

    def fresh(self, etype: str) -> str | None:
        k = self.visible[etype]
        if k >= len(self.pool.order[etype]):
            return None
        self.visible[etype] = k + 1
        return self.pool.order[etype][k]


def _filler(rng: random.Random, lo: int, hi: int) -> str:
    return "".join(rng.choice(FILLER_CHARS) for _ in range(rng.randint(lo, hi)))


def _sentence(rng: random.Random, pick) -> tuple[str, list[str], tuple | None]:
    """One sentence: (text, mentions in order, planted (subj, pred, obj)
    or None). Mentions are always separated by non-entity characters, so
    each is exactly one tagger span."""
    kind = rng.random()
    if kind < 0.6:  # subject, connective, object: one triple
        subj, obj = pick("PER"), pick(rng.choice(("ORG", "LOC")))
        pred = rng.choice(PREDICATES)
        conn = rng.choice(CONNECTIVES[pred])
        text = (_filler(rng, 0, 3) + subj + _filler(rng, 0, 4) + conn + obj
                + _filler(rng, 0, 6))
        return text, [subj, obj], (subj, pred, obj)
    if kind < 0.75:  # object before subject: mentions, no triple
        obj, subj = pick(rng.choice(("ORG", "LOC"))), pick("PER")
        conn = rng.choice(CONNECTIVES[rng.choice(PREDICATES)])
        return (_filler(rng, 1, 3) + obj + conn + subj + _filler(rng, 0, 4),
                [obj, subj], None)
    if kind < 0.9:  # one mention of any type
        m = pick(rng.choice(ETYPES))
        return _filler(rng, 1, 4) + m + _filler(rng, 1, 6), [m], None
    # subject and object with no connective between them: no triple
    subj, obj = pick("PER"), pick(rng.choice(("ORG", "LOC")))
    return (subj + _filler(rng, 1, 5) + obj + _filler(rng, 0, 3),
            [subj, obj], None)


_BASE_TS = datetime.datetime(2025, 6, 1)


def gen_pages(rng: random.Random, n_pages: int, pick, start: int = 0,
              tag: str = "p") -> tuple[list[tuple], dict]:
    """``n_pages`` crawl pages as (url, warc_ts, html, text, lang) tuples
    plus what was planted in the zh pages: golden triples as
    (url, sent_id, subj, pred, obj) and the mention count.

    About 70 % of pages are ``zh`` (the rest other languages, which the
    pipeline's language filter drops, so their entities must never reach
    the graph). About half carry only ``html``: script, style and comment
    blocks that hold entity-like text (which must be stripped), nested
    tags around whole sentences, and ``&nbsp;`` between sentences. The
    others also carry the extracted ``text``."""
    rows = []
    golden: list[tuple] = []
    n_mentions = 0
    for i in range(start, start + n_pages):
        url = f"https://site{i % 113}.example/{tag}/{i}"
        lang = "zh" if rng.random() < 0.7 else rng.choice(OTHER_LANGS)
        sents = []
        for sid in range(rng.randint(1, 4)):
            text, mentions, triple = _sentence(rng, pick)
            sents.append(text)
            if lang == "zh":
                n_mentions += len(mentions)
                if triple is not None:
                    golden.append((url, sid, *triple))
        delims = [rng.choice(SENT_DELIMS) for _ in sents]
        title = f"p{i}"
        body = "".join(s + d for s, d in zip(sents, delims))
        text = f"{title} {body}"
        # html-only noise: entity-like text inside script/style/comments
        # must never reach the tagger
        decoy = sents[0] + "。"
        parts = [f"<html><head><title>{title}</title>"]
        if rng.random() < 0.5:
            parts.append(f"<script>var s='{decoy}';</script>")
        if rng.random() < 0.3:
            parts.append(f"<style>.x{{content:'{decoy}'}}</style>")
        parts.append("</head><body>")
        if rng.random() < 0.5:
            parts.append(f"<!-- {decoy} -->")
        parts.append("<div>")
        for s, d in zip(sents, delims):
            if rng.random() < 0.3:
                parts.append(f"<p><b><i>{s}</i></b>{d}</p>")
            else:
                parts.append(f"<p>{s}{d}</p>&nbsp;")
        parts.append("</div></body></html>")
        html = "".join(parts).encode("utf-8")
        html_only = rng.random() < 0.5
        rows.append((url, _BASE_TS + datetime.timedelta(seconds=37 * i),
                     html, None if html_only else text, lang))
    return rows, {"triples": golden, "mentions": n_mentions}


def pages_schema():
    from pyspark.sql import types as T

    return T.StructType([
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("html", T.BinaryType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ])

"""Seeded input generators, one per workload.

Every generator is a pure function of its seed and size parameters: it writes
the program's input files into ``out_dir`` and returns ``(props, truth)``.
``props`` are the input properties a run reports (rows, distinct block keys,
Zipf exponent, planted duplicate rate and similarity levels, vector dim,
batch size). ``truth`` is what the generator planted; it never reaches the
program, only the correctness and quality checks.

Files are written by this module alone (csv through the stdlib, parquet
through pyarrow with fixed settings), so one seed gives byte-identical files;
``tests/test_benchmark.py`` pins that.
"""

from __future__ import annotations

import csv
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Parquet settings fixed here so the bytes depend on the data alone.
_PQ = dict(compression="snappy", use_dictionary=True, write_statistics=True)


def _write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table.replace_schema_metadata(None), path, **_PQ)


def _zipf_probs(n: int, s: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return w / w.sum()


_CONS = "bcdfghjklmnprstvwz"
_VOWELS = "aeiou"


def _words(rng: np.random.Generator, n: int, min_syl: int, max_syl: int,
           banned: set[str]) -> list[str]:
    """``n`` distinct pronounceable lowercase words, none in ``banned``."""
    out: list[str] = []
    seen = set(banned)
    while len(out) < n:
        k = int(rng.integers(min_syl, max_syl + 1))
        w = "".join(
            _CONS[int(rng.integers(len(_CONS)))] + _VOWELS[int(rng.integers(len(_VOWELS)))]
            for _ in range(k)
        )
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


# ---------------------------------------------------------------------------
# company_names: the reference's company-dedup journey
# ---------------------------------------------------------------------------

_LEGAL = ["Pvt Ltd", "LLC", "Inc", "Ltd", "Limited", "GmbH", "PLC", "Co", "Ltd Limited"]
_COUNTRY = ["India", "Germany", "USA", "Japan", "France", "Canada", "Brazil"]
_INDUSTRY = [
    "Systems", "Logistics", "Foods", "Textiles", "Robotics", "Analytics",
    "Pharma", "Motors", "Energy", "Holdings", "Capital", "Labs", "Software",
    "Networks", "Foods International", "Steel", "Chemicals", "Media",
    "Healthcare", "Solutions", "Industries", "Trading", "Builders", "Airways",
]
# Alias entities whose acronym the engine's default map rewrites.
_ALIASES = [("Tata Consultancy Services", "TCS"), ("HDFC Bank", "HDFC")]
VARIANT_CLASSES = (
    "legal_suffix", "country", "acronym", "token_shuffle", "case_punct", "typo",
)


def _typo(rng: np.random.Generator, name: str) -> str:
    """One-character substitution past the first two characters, so the
    variant stays in its block (block key = first char + length band +
    first token; a typo in the first token can still move it)."""
    if len(name) < 4:
        return name + name[-1]
    i = int(rng.integers(2, len(name)))
    if name[i] == " ":
        i -= 1
    c = _VOWELS[int(rng.integers(len(_VOWELS)))]
    if c == name[i].lower():
        c = "y"
    return name[:i] + (c.upper() if name[i].isupper() else c) + name[i + 1:]


def _variant(rng: np.random.Generator, cls: str, name: str, alias: str | None) -> str:
    if cls == "legal_suffix":
        return f"{name} {_LEGAL[int(rng.integers(len(_LEGAL)))]}"
    if cls == "country":
        return f"{name} {_COUNTRY[int(rng.integers(len(_COUNTRY)))]}"
    if cls == "acronym":
        return alias if alias else f"{name} Ltd"
    if cls == "token_shuffle":
        toks = name.split(" ")
        return " ".join(toks[1:] + toks[:1]) if len(toks) > 1 else name.upper()
    if cls == "case_punct":
        return name.lower().replace(" ", ", ", 1) + "."
    return _typo(rng, name)


def _alloc(total: int, probs: np.ndarray) -> np.ndarray:
    """Integer counts summing to ``total`` in proportion to ``probs``
    (largest remainder)."""
    raw = probs * total
    out = np.floor(raw).astype(np.int64)
    out[np.argsort(out - raw)[: total - int(out.sum())]] += 1
    return out


def gen_company_names(out_dir: str, seed: int, rows: int = 2000,
                      zipf_s: float = 1.1, n_roots: int = 1500,
                      dup_rate: float = 0.5) -> tuple[dict, dict]:
    """``companies.csv`` with columns ``row_id`` (unique order key) and
    ``company_name``. Names are a root, a random second word and an industry
    word. Roots are Zipf(``zipf_s``) over ``n_roots`` generated words, so
    most blocks are tiny and a few are hot. A ``dup_rate`` share of entities
    gets 1-3 planted variants from the FIXTURES.md section 1 classes; 1% of
    rows are suffix-only names and 1% are null. Counts per root, per variant
    class and per entity size are fixed by the parameters and only the words
    and the order are random, so block structure hardly moves between
    seeds. Truth maps ``row_id`` to its entity."""
    rng = np.random.default_rng(seed)
    n_odd = round(rows * 0.01)  # suffix-only rows, and as many nulls
    n_ent = (rows - 2 * n_odd) // 2  # entities average two rows
    n_dup = round(n_ent * dup_rate)
    extra = [1 + k % 3 for k in range(n_dup)]  # 1-3 variants, mean 2
    n_ent += rows - 2 * n_odd - n_ent - sum(extra)  # pad with singletons
    words = [w.capitalize() for w in _words(rng, n_roots + 2 * n_ent, 2, 4, set())]
    roots = np.repeat(words[:n_roots], _alloc(n_ent, _zipf_probs(n_roots, zipf_s)))
    roots = rng.permutation(roots).tolist()
    seconds = words[n_roots:]
    n_alias = round(n_ent * 0.005)
    extra = rng.permutation(extra + [0] * (n_ent - n_dup)).tolist()
    classes_cycle = rng.permutation(np.resize(VARIANT_CLASSES, sum(extra))).tolist()
    names: list[str | None] = []
    entity: list[int] = []
    classes: list[str] = []
    for e in range(n_ent):
        alias = None
        if e < n_alias:
            name, alias = _ALIASES[e % len(_ALIASES)]
        else:
            name = (f"{roots[e]} {seconds[e]} "
                    f"{_INDUSTRY[int(rng.integers(len(_INDUSTRY)))]}")
        names.append(name)
        classes.append("original")
        entity.append(e)
        for _ in range(extra[e]):
            cls = classes_cycle.pop()
            names.append(_variant(rng, cls, name, alias))
            classes.append(cls)
            entity.append(e)
    for k in range(2 * n_odd):
        names.append(_LEGAL[k % len(_LEGAL)] if k < n_odd else None)
        classes.append("suffix_only" if k < n_odd else "null")
        entity.append(n_ent + k)
    order = rng.permutation(rows)
    row_ids = np.arange(rows, dtype=np.int64) * 7 + 3  # unique, non-dense
    path = os.path.join(out_dir, "companies.csv")
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f, lineterminator="\n")
        w.writerow(["row_id", "company_name"])
        for pos, i in enumerate(order):
            w.writerow([int(row_ids[pos]), "" if names[i] is None else names[i]])
    truth_entity = {int(row_ids[pos]): entity[i] for pos, i in enumerate(order)}
    first_tokens = {(n or "").split(" ")[0].upper() for n in names}
    sizes = np.bincount(np.array(entity))
    props = {
        "rows": rows,
        "entities": int(len(sizes)),
        "distinct_first_tokens": len(first_tokens),
        "zipf_s": zipf_s,
        "roots": n_roots,
        "planted_dup_rate": dup_rate,
        "planted_dup_rows": int((sizes[sizes > 1] - 1).sum()),
        "planted_pairs": int((sizes * (sizes - 1) // 2).sum()),
        "variant_classes": {c: classes.count(c) for c in sorted(set(classes))},
    }
    return props, {"entity": truth_entity, "csv": path}


# ---------------------------------------------------------------------------
# corpus_curate and stream_ingest: (doc_id, text) corpora
# ---------------------------------------------------------------------------

# Marker and stopword sets the engine's language and quality heuristics read
# (functions/text.py); generated vocabulary avoids all of them.
_EN_FUNC = ["the", "a", "of", "and", "is", "to", "in"]
_DE_FUNC = ["der", "die", "das", "und", "ist"]
_BANNED = set(_EN_FUNC + _DE_FUNC + ["el", "la", "los", "y", "es", "le", "les", "et", "est"])
_BOILERPLATE_LEN = 12


def bigram_set(text: str) -> set[str]:
    t = text.split(" ")
    return {f"{a} {b}" for a, b in zip(t, t[1:])}


def jaccard(a: set, b: set) -> float:
    u = len(a | b)
    return len(a & b) / u if u else 1.0


class _TextModel:
    """Zipf vocabulary with English function words mixed in, plus a few
    boilerplate sentences that give many documents the same hot shingles."""

    def __init__(self, rng: np.random.Generator, vocab: int, zipf_s: float):
        self.rng = rng
        self.vocab = np.array(_words(rng, vocab, 1, 3, _BANNED), dtype=object)
        self.cdf = np.cumsum(_zipf_probs(vocab, zipf_s))
        self.boiler = [
            " ".join(self._draw(_BOILERPLATE_LEN)) for _ in range(6)
        ]

    def _draw(self, n: int) -> list[str]:
        idx = np.searchsorted(self.cdf, self.rng.random(n) * self.cdf[-1], side="right")
        return list(self.vocab[np.minimum(idx, len(self.vocab) - 1)])

    def english(self, n_tokens: int, boiler_p: float) -> str:
        toks = self._draw(n_tokens)
        func = self.rng.random(n_tokens) < 0.2
        for i in np.flatnonzero(func):
            toks[i] = _EN_FUNC[int(self.rng.integers(len(_EN_FUNC)))]
        text = " ".join(toks)
        if self.rng.random() < boiler_p:
            text = f"{text} {self.boiler[int(self.rng.integers(len(self.boiler)))]}"
        return text

    def german(self, n_tokens: int) -> str:
        toks = self._draw(n_tokens)
        for i in np.flatnonzero(self.rng.random(n_tokens) < 0.25):
            toks[i] = _DE_FUNC[int(self.rng.integers(len(_DE_FUNC)))]
        return " ".join(toks)

    def low_quality(self) -> str:
        w = self._draw(1)[0]
        return " ".join([w] * int(self.rng.integers(3, 9)))

    def near_copy(self, src: str, target_j: float) -> str:
        """Replace a contiguous-free random subset of tokens so the bigram
        Jaccard to ``src`` lands near ``target_j``. Replacing a share ``f``
        of tokens breaks about ``1-(1-f)^2`` of the bigrams."""
        toks = src.split(" ")
        keep = 2.0 * target_j / (1.0 + target_j)  # bigram share to keep
        f = 1.0 - np.sqrt(keep)
        hit = np.flatnonzero(self.rng.random(len(toks)) < f)
        fresh = self._draw(len(hit))
        for i, w in zip(hit, fresh):
            toks[i] = w
        return " ".join(toks)


def _corpus(rng: np.random.Generator, model: _TextModel, n_docs: int,
            id_base: int, exact_rate: float, near_rate: float,
            levels: tuple[float, ...], german_rate: float, lowq_rate: float,
            boiler_p: float, sources: list[tuple[int, str]] | None = None):
    """Docs as (ids, texts) plus truth: for each planted copy, its source
    (an earlier English doc of this corpus or one of ``sources``), planted
    kind and measured bigram Jaccard to that source; and the ids of German
    and low-quality docs, which the engine's text filter must drop.

    The count of each kind is fixed by the rates and the near copies cycle
    through ``levels``; only their order is random. Drawing each doc's kind
    independently made recall swing by several percent between seeds."""
    counts = {"exact": round(n_docs * exact_rate), "near": round(n_docs * near_rate),
              "german": round(n_docs * german_rate), "low_quality": round(n_docs * lowq_rate)}
    counts["english"] = n_docs - sum(counts.values())
    schedule = rng.permutation(np.repeat(list(counts), list(counts.values())))
    texts: list[str] = []
    rejects: list[int] = []
    planted: list[dict] = []
    kinds = dict.fromkeys(counts, 0)
    pool = list(sources or [])  # (id, text) of docs a copy may copy
    for i, kind in enumerate(schedule.tolist()):
        doc_id = id_base + i
        if kind in ("exact", "near") and not pool:
            kind = "english"
        if kind == "exact":
            src_id, src_text = pool[int(rng.integers(len(pool)))]
            texts.append(src_text)
            planted.append({"id": doc_id, "src": src_id, "kind": "exact", "j": 1.0})
        elif kind == "near":
            src_id, src_text = pool[int(rng.integers(len(pool)))]
            level = levels[kinds["near"] % len(levels)]
            t = model.near_copy(src_text, level)
            texts.append(t)
            planted.append({"id": doc_id, "src": src_id, "kind": f"near{level}",
                            "j": jaccard(bigram_set(t), bigram_set(src_text))})
        elif kind == "german":
            texts.append(model.german(int(rng.integers(40, 120))))
            rejects.append(doc_id)
        elif kind == "low_quality":
            texts.append(model.low_quality())
            rejects.append(doc_id)
        else:
            texts.append(model.english(int(rng.integers(60, 140)), boiler_p))
            pool.append((doc_id, texts[-1]))
        kinds[kind] += 1
    ids = np.arange(id_base, id_base + n_docs, dtype=np.int64)
    return ids, texts, planted, kinds, rejects


def gen_corpus(out_dir: str, seed: int, docs: int = 6000, vocab: int = 20000,
               zipf_s: float = 1.05, exact_rate: float = 0.05,
               near_rate: float = 0.15,
               levels: tuple[float, ...] = (0.15, 0.25, 0.5, 0.8),
               german_rate: float = 0.05, lowq_rate: float = 0.05,
               boiler_p: float = 0.3) -> tuple[dict, dict]:
    """``docs.parquet`` (doc_id BIGINT, text STRING). Near copies are
    planted at bigram-Jaccard ``levels`` around the engine's 0.2 threshold;
    the 0.15 level sits below it and must survive."""
    rng = np.random.default_rng(seed)
    model = _TextModel(rng, vocab, zipf_s)
    ids, texts, planted, kinds, rejects = _corpus(
        rng, model, docs, 1, exact_rate, near_rate, levels, german_rate,
        lowq_rate, boiler_p)
    path = os.path.join(out_dir, "docs.parquet")
    _write_parquet(pa.table({"doc_id": pa.array(ids), "text": pa.array(texts)}), path)
    props = {
        "rows": docs,
        "vocab": vocab,
        "zipf_s": zipf_s,
        "planted_exact_rate": exact_rate,
        "planted_near_rate": near_rate,
        "planted_jaccard_levels": list(levels),
        "boilerplate_share": boiler_p,
        "kinds": kinds,
        "bytes": os.path.getsize(path),
    }
    return props, {"planted": planted, "path": path, "rejects": set(rejects),
                   "texts": dict(zip(ids.tolist(), texts))}


def gen_stream(out_dir: str, seed: int, base_docs: int = 3000, batches: int = 12,
               batch_docs: int = 40, vocab: int = 20000, zipf_s: float = 1.05,
               near_rate: float = 0.3, exact_rate: float = 0.1,
               levels: tuple[float, ...] = (0.3, 0.6, 0.9)) -> tuple[dict, dict]:
    """A base corpus ``base.parquet`` plus ``batches`` batch files
    ``batch_00000.parquet`` ... of ``batch_docs`` docs each. Batch docs
    carry planted copies of the base corpus and of earlier batch docs."""
    rng = np.random.default_rng(seed)
    model = _TextModel(rng, vocab, zipf_s)
    ids, texts, planted, _, _ = _corpus(
        rng, model, base_docs, 1, 0.0, 0.0, levels, 0.0, 0.0, 0.3)
    _write_parquet(pa.table({"doc_id": pa.array(ids), "text": pa.array(texts)}),
                   os.path.join(out_dir, "base.parquet"))
    pool = list(zip(ids.tolist(), texts))
    all_texts = dict(pool)
    batch_paths = []
    next_id = base_docs + 1
    for b in range(batches):
        bids, btexts, bplanted, _, _ = _corpus(
            rng, model, batch_docs, next_id, exact_rate, near_rate, levels,
            0.0, 0.0, 0.3, sources=pool)
        next_id += batch_docs
        p = os.path.join(out_dir, f"batch_{b:05d}.parquet")
        _write_parquet(pa.table({"doc_id": pa.array(bids), "text": pa.array(btexts)}), p)
        batch_paths.append(p)
        planted.extend(bplanted)
        pairs = list(zip(bids.tolist(), btexts))
        pool.extend(pairs)
        all_texts.update(pairs)
    props = {
        "base_rows": base_docs,
        "batches": batches,
        "batch_rows": batch_docs,
        "rows": batches * batch_docs,
        "vocab": vocab,
        "zipf_s": zipf_s,
        "planted_exact_rate": exact_rate,
        "planted_near_rate": near_rate,
        "planted_jaccard_levels": list(levels),
    }
    return props, {"planted": planted, "batches": batch_paths,
                   "base": os.path.join(out_dir, "base.parquet"), "texts": all_texts}


# ---------------------------------------------------------------------------
# embedding_dedup: vectors with planted near-duplicate groups
# ---------------------------------------------------------------------------


def gen_embeddings(out_dir: str, seed: int, rows: int = 1000, dim: int = 64,
                   group_rate: float = 0.5,
                   cosines: tuple[float, ...] = (0.2, 0.5, 0.8, 0.95)) -> tuple[dict, dict]:
    """``embeddings.parquet`` (vec_id BIGINT, embedding ARRAY<FLOAT>).
    Background vectors are isotropic Gaussian, like the engine's own
    ``embeddings`` test table, so about 0.25% of random pairs clear the
    engine's 0.35 cosine threshold by chance. A ``group_rate`` share of rows
    are planted members of groups of 2-4 (sizes cycling) whose pairwise
    cosine sits near one of ``cosines`` (levels cycling; they straddle the
    threshold); rows are then shuffled. Truth is the exact pair set at
    cosine >= 0.35 over all pairs, computed by brute force by the caller."""
    rng = np.random.default_rng(seed)
    vecs = rng.standard_normal((rows, dim))
    n_planted = round(rows * group_rate)
    i = g = 0
    while i < n_planted:
        size = min(2 + g % 3, n_planted - i)
        lv = cosines[g % len(cosines)]
        c = rng.standard_normal(dim)
        c /= np.linalg.norm(c)
        for _ in range(size):
            noise = rng.standard_normal(dim)
            noise -= noise.dot(c) * c
            noise /= np.linalg.norm(noise)
            vecs[i] = (np.sqrt(lv) * c + np.sqrt(1.0 - lv) * noise) * rng.uniform(0.5, 2.0)
            i += 1
        g += 1
    vecs = vecs[rng.permutation(rows)].astype(np.float32)
    ids = np.arange(rows, dtype=np.int64) * 3 + 1
    path = os.path.join(out_dir, "embeddings.parquet")
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.ravel()), dim).cast(
        pa.list_(pa.float32()))
    _write_parquet(pa.table({"vec_id": pa.array(ids), "embedding": emb}), path)
    props = {
        "rows": rows,
        "dim": dim,
        "planted_group_rate": group_rate,
        "planted_groups": g,
        "planted_cosine_levels": list(cosines),
    }
    return props, {"ids": ids, "vecs": vecs, "path": path}

"""Seeded corpus and query-mix generators owned by the benchmark.

Nothing here imports the engine's own corpus generator or query lists, so a
change to the package cannot move the benchmark's inputs. Every output is a
pure function of the seed and the requested size.

Corpus rows follow the engine's input schema (repo, path, commit, lang,
content) and keep the properties the engine's layers react to:

- hot code keywords on every line, so each keyword's document frequency is
  about 0.95 of the corpus (block-max pruning, champions, cluster kernel);
- a zipf identifier vocabulary far larger than the driver row cache;
- license boilerplate lines (phrase queries);
- one unique term per file (point lookups);
- tokens of 40 bytes or more, which the tokenizer must drop.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd

HOT_TERMS = (
    "def", "return", "if", "else", "import", "for", "while", "class",
    "fn", "let", "mut", "pub", "void", "int", "static", "func", "var",
    "const", "self", "none", "true", "false",
)
# keyword popularity inside a line: a few keywords dominate, like real code
_HOT_WEIGHTS = 1.0 / np.arange(1, len(HOT_TERMS) + 1) ** 0.6
_HOT_WEIGHTS /= _HOT_WEIGHTS.sum()

LANGS = ("python", "rust", "java", "go", "js", "c", "md")
_LANG_WEIGHTS = np.array([0.30, 0.18, 0.15, 0.12, 0.10, 0.09, 0.06])
_EXT = {"python": "py", "rust": "rs", "java": "java", "go": "go",
        "js": "js", "c": "c", "md": "md"}

LICENSE_LINES = (
    "permission is hereby granted free of charge to any person",
    "the software is provided as is without warranty of any kind",
    "redistribution and use in source and binary forms are permitted",
    "licensed under the apache license version two point zero",
)

_STEMS = ("parse", "build", "merge", "scan", "token", "index", "query",
          "score", "batch", "shard", "codec", "block", "field", "store",
          "route", "cache")
VOCAB_SIZE = 40_000
ZIPF_DOC = 1.3       # identifier skew inside documents
ZIPF_QUERY = 1.05    # identifier skew of tail queries: mostly distinct

# docmeta feature used by filters, sorts and aggregations; every file has
# 10..49 content lines plus a few fixed extras
NUM_LINES_AGG = [[0, 20], [20, 40], [40, 1000]]


def identifier(rank: int) -> str:
    """Vocabulary entry of a 0-based zipf rank."""
    return f"{_STEMS[rank % len(_STEMS)]}{rank:05d}"


def unique_term(ordinal: int) -> str:
    return f"uniq{ordinal:07d}"


def make_corpus(seed: int, n_docs: int) -> pd.DataFrame:
    """n_docs source files as a pandas frame in the engine's input schema."""
    rng = np.random.default_rng([seed, 1])
    n_repos = max(4, n_docs // 64)
    langs = rng.choice(len(LANGS), size=n_docs, p=_LANG_WEIGHTS)
    n_lines = rng.integers(10, 50, size=n_docs)
    repos, paths, commits, lang_col, contents = [], [], [], [], []
    for i in range(n_docs):
        lang = LANGS[int(langs[i])]
        repo = f"org{i % 7}/proj{int(rng.integers(0, n_repos))}"
        path = f"src/module_{i % 97}/file_{i}.{_EXT[lang]}"
        nl = int(n_lines[i])
        n_hot = rng.integers(2, 5, size=nl)
        hot = rng.choice(len(HOT_TERMS), size=int(n_hot.sum()),
                         p=_HOT_WEIGHTS)
        n_id = rng.integers(1, 5, size=nl)
        ids = np.minimum(rng.zipf(ZIPF_DOC, size=int(n_id.sum())) - 1,
                         VOCAB_SIZE - 1)
        lines = []
        h = k = 0
        for ln in range(nl):
            toks = [HOT_TERMS[int(t)] for t in hot[h:h + n_hot[ln]]]
            toks += [identifier(int(r)) for r in ids[k:k + n_id[ln]]]
            h += int(n_hot[ln])
            k += int(n_id[ln])
            lines.append(" ".join(toks))
        lines.append(unique_term(i))
        if rng.random() < 0.1:
            lines.append("x" * int(rng.integers(40, 72)))
        if rng.random() < 0.2:
            lines.append(LICENSE_LINES[int(rng.integers(0, len(LICENSE_LINES)))])
        if lang == "md":
            lines.insert(0, "# documentation header")
        repos.append(repo)
        paths.append(path)
        commits.append(hashlib.sha1(f"{seed}:{repo}:{path}".encode()).hexdigest())
        lang_col.append(lang)
        contents.append("\n".join(lines))
    return pd.DataFrame({"repo": repos, "path": paths, "commit": commits,
                         "lang": lang_col, "content": contents})


def with_doc_ids(corpus: pd.DataFrame) -> pd.DataFrame:
    """The engine's identity doc-id layout: dense rank over (repo, path)
    (byte order, which equals Python string order for ASCII)."""
    out = corpus.sort_values(["repo", "path"], kind="stable").reset_index(drop=True)
    out.insert(0, "doc_id", np.arange(len(out), dtype=np.int64))
    return out


# --------------------------------------------------------------- query mixes
#
# A request is a dict {"kind": str, "query": SearchQuery JSON, "parent": int
# or None}. A request with a parent is a page-2 follow-up: it is sent with
# the parent's `next` cursor once the parent has answered.

TAIL_MIX = (("ident", 0.36), ("phrase", 0.10), ("unique", 0.14),
            ("filter", 0.08), ("sort", 0.08), ("agg", 0.08),
            ("page1", 0.08), ("page2", 0.08))
HOT_MIX = (("keyword", 0.30), ("or_many", 0.25), ("dismax", 0.15),
           ("must_not", 0.15), ("filter", 0.08), ("agg", 0.07))
HOT_POOL = 12        # distinct hot queries per seed: popular queries repeat


def _ident_text(rng, lo_rank: int, n_terms: int) -> str:
    # wrap rather than clip the heavy zipf tail, which would pile draws
    # onto the last vocabulary entry
    ranks = lo_rank + (rng.zipf(ZIPF_QUERY, size=n_terms) - 1) % (VOCAB_SIZE - lo_rank)
    return " ".join(identifier(int(r)) for r in ranks)


def _tail_query(rng, kind: str, n_docs: int) -> dict:
    if kind == "phrase":
        line = LICENSE_LINES[int(rng.integers(0, len(LICENSE_LINES)))].split()
        n = int(rng.integers(2, 5))
        at = int(rng.integers(0, len(line) - n + 1))
        return {"fulltext": '"' + " ".join(line[at:at + n]) + '"'}
    if kind == "unique":
        return {"fulltext": unique_term(int(rng.integers(0, n_docs)))}
    if kind == "page1":
        # a head identifier with a short page, so a `next` cursor exists
        return {"fulltext": identifier(int(rng.integers(0, 30))),
                "num_items": 5}
    q = {"fulltext": _ident_text(rng, 20, int(rng.integers(1, 4)))}
    if kind == "filter":
        lo = int(rng.integers(10, 40))
        q["filter"] = {"num_lines": [lo, lo + int(rng.integers(5, 20))]}
    elif kind == "sort":
        q["sort"] = "num_lines"
        q["ascending"] = bool(rng.random() < 0.5)
    elif kind == "agg":
        q["agg"] = {"num_lines": NUM_LINES_AGG}
    return q


def _hot_query(rng, kind: str, j: int) -> dict:
    """The j-th pool entry of a kind. Keyword counts are fixed by j, not
    drawn, so a pool costs about the same whatever the seed."""
    def kws(n):
        return [HOT_TERMS[int(i)] for i in
                rng.choice(len(HOT_TERMS), size=n, replace=False)]
    if kind == "keyword":
        return {"fulltext": kws(1)[0]}
    if kind == "or_many":
        return {"fulltext": " ".join(kws(6 + 2 * j % 5))}
    if kind == "dismax":
        return {"fulltext": "module " + " ".join(kws(2 + j % 2))}
    if kind == "must_not":
        a, b = kws(2)
        return {"fulltext": f"+{a} -{b}"}
    q = {"fulltext": kws(1)[0]}
    if kind == "filter":
        lo = int(rng.integers(10, 40))
        q["filter"] = {"num_lines": [lo, lo + int(rng.integers(5, 20))]}
    else:
        q["agg"] = {"num_lines": NUM_LINES_AGG}
    return q


def _kinds(rng, mix, n: int) -> list[str]:
    """n kinds in the mix's exact proportions (largest remainders), in
    seeded random order: the share of each shape does not vary by seed."""
    w = np.array([x for _, x in mix], dtype=np.float64)
    quota = w / w.sum() * n
    counts = np.floor(quota).astype(int)
    for i in np.argsort(counts - quota)[: n - counts.sum()]:
        counts[i] += 1
    kinds = [k for (k, _), c in zip(mix, counts) for _ in range(c)]
    return [kinds[int(i)] for i in rng.permutation(n)]


def tail_requests(seed: int, n: int, n_docs: int) -> list[dict]:
    """Long-tail code-search traffic: mostly distinct, low-df terms."""
    rng = np.random.default_rng([seed, 2])
    out: list[dict] = []
    pending_parents: list[int] = []
    for kind in _kinds(rng, TAIL_MIX, n):
        if kind == "page2" and pending_parents:
            parent = pending_parents.pop(0)
            out.append({"kind": "page2", "query": dict(out[parent]["query"]),
                        "parent": parent})
            continue
        if kind == "page2":
            kind = "page1"
        out.append({"kind": kind, "query": _tail_query(rng, kind, n_docs),
                    "parent": None})
        if kind == "page1":
            pending_parents.append(len(out) - 1)
    return out


def hot_requests(seed: int, n: int) -> list[dict]:
    """Hot-keyword traffic: popular queries repeat. A pool of HOT_POOL
    distinct queries is replayed in reshuffled rounds, so every pool entry
    is asked about equally often."""
    rng = np.random.default_rng([seed, 3])
    kinds = sorted(_kinds(rng, HOT_MIX, HOT_POOL))
    pool = [(k, _hot_query(rng, k, i - kinds.index(k)))
            for i, k in enumerate(kinds)]
    picks = np.concatenate([rng.permutation(HOT_POOL)
                            for _ in range(-(-n // HOT_POOL))])[:n]
    return [{"kind": pool[int(i)][0], "query": dict(pool[int(i)][1]),
             "parent": None} for i in picks]

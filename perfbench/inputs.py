"""Seeded benchmark inputs with planted truth.

Every input is a pure function of the seed. Each generator returns the rows
the program receives plus a ``family`` label per row: two files can only be
duplicates of each other when they share a family (they derive from the same
base token stream), so the reference is computed inside families instead of
by an O(n^2) pass. ``perfbench/test_perfbench.py`` checks that claim against
``annoy_spark.oracle.compute_oracle`` and an all-pairs substring scan on
small instances.
"""

from __future__ import annotations

import hashlib
from collections import defaultdict

import numpy as np
import pandas as pd

from annoy_spark.corpus import CORPUS_COLS, generate_corpus_pdf
from annoy_spark.oracle import tokens


def checksum(pdf: pd.DataFrame, cols: list[str]) -> str:
    """sha256 over the given columns, row by row: a change to a generator
    shows up as a different input, not as a speed-up."""
    h = hashlib.sha256()
    for row in pdf[cols].itertuples(index=False):
        for v in row:
            h.update(str(v).encode())
            h.update(b"\x00")
    return h.hexdigest()


# --- dedup_mixed: the FIXTURES.md F1 mix from annoy_spark.corpus ----------

def mixed_corpus(n: int, seed: int) -> pd.DataFrame:
    """corpus columns + ``family``. corpus.py derives exact, near and
    substring rows from the token stream of ``base_id``; unique and
    boilerplate rows carry their own id."""
    pdf = generate_corpus_pdf(n, seed=seed)
    return pdf[CORPUS_COLS].assign(family=pdf["base_id"].astype(np.int64))


# --- dedup_adversarial: the ROADMAP aim-3 shapes ---------------------------

ADVERSARIAL_FULL = {
    "near_family": 1_200,   # band groups > band_group_cap -> salted star
    "exact_copies": 2_000,  # one sha group -> exact_edges window funnel
    "chain_len": 48,        # drift chain -> many CC rounds
    "large_pairs": 24,      # pairs sharing a block > slice margin -> escalation
    "large_unique": 145,    # ~300 KB files: mean length past break-even
    "large_tokens": 46_000,
}


def _render(toks: np.ndarray, nl: str = "\n") -> str:
    return nl.join(" ".join(toks[i:i + 8]) for i in range(0, len(toks), 8))


def adversarial_corpus(seed: int, sizes: dict | None = None) -> pd.DataFrame:
    """Inputs the F1 mix never produces: a near-dup family larger than
    band_group_cap, a mega exact family, a drift chain, large files (mean
    length past adaptive_slice_margin's break-even) with long shared
    blocks, and empty / one-token / non-ASCII / CRLF files. The 2,000-word
    vocabulary keeps shingle ids exact in ``_shingle_ids``."""
    sz = dict(ADVERSARIAL_FULL, **(sizes or {}))
    rng = np.random.default_rng([seed, 0xAD5E])
    alphabet = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))
    vocab = np.unique(np.array([
        "".join(alphabet[rng.integers(0, 36, size=int(rng.integers(3, 9)))])
        for _ in range(2_100)
    ]))[:2_000]
    rows: list[tuple[str, int]] = []  # (content, family)

    def stream(n: int) -> np.ndarray:
        return vocab[rng.integers(0, len(vocab), size=n)]

    fam = 0
    # near family: one-token edits of one base. A band (4 MinHash rows)
    # keeps the base's key with probability ~0.95, so most band groups of
    # the family hold more than band_group_cap distinct files.
    base = stream(400)
    for _ in range(sz["near_family"]):
        t = base.copy()
        t[rng.integers(0, len(t))] = stream(1)[0]
        rows.append((_render(t), fam))
    fam += 1
    text = _render(stream(140))
    rows += [(text, fam)] * sz["exact_copies"]
    fam += 1
    # drift chain: each step rewrites a contiguous 5 % span of the previous
    t = stream(600)
    for _ in range(sz["chain_len"]):
        t = t.copy()
        s = int(rng.integers(0, len(t) - 30))
        t[s:s + 30] = stream(30)
        rows.append((_render(t), fam))
    fam += 1
    # large files sharing a verbatim block longer than the slice margin
    for _ in range(sz["large_pairs"]):
        shared = _render(stream(2_500))
        for _side in range(2):
            own = _render(stream(int(rng.integers(4_000, 7_000))))
            cut = int(rng.integers(0, len(own)))
            rows.append((own[:cut] + "\n" + shared + "\n" + own[cut:], fam))
        fam += 1
    n_large = sz["large_tokens"]
    for _ in range(sz["large_unique"]):
        rows.append((_render(stream(int(rng.integers(n_large, n_large * 1.1)))),
                     fam))
        fam += 1
    rows += [("", fam)] * 3
    fam += 1
    for _ in range(3):
        rows.append((str(stream(1)[0]), fam))
        fam += 1
        rows.append(("// é ü 中文 ключ\n" + _render(stream(60)), fam))
        fam += 1
        t = stream(int(rng.integers(60, 200)))
        rows.append((_render(t), fam))
        rows.append((_render(t, "\r\n"), fam))
        fam += 1

    order = rng.permutation(len(rows))
    langs = ("python", "java", "cpp", "go", "js")
    return pd.DataFrame([
        {
            "repo": f"adv{i % 7}/repo{i % 13}",
            "path": f"src/f{i}.txt",
            "commit": hashlib.sha1(f"{seed}:{i}".encode()).hexdigest(),
            "lang": langs[i % 5],
            "content": rows[j][0],
            "family": rows[j][1],
        }
        for i, j in enumerate(order)
    ])


# --- reference clusters ----------------------------------------------------

class _DSU:
    def __init__(self, n: int) -> None:
        self.p = list(range(n))

    def find(self, x: int) -> int:
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a: int, b: int) -> None:
        ra, rb = self.find(a), self.find(b)
        self.p[max(ra, rb)] = min(ra, rb)


def _common_run(a: bytes, i: int, b: bytes, j: int, step: int) -> int:
    """Length of the common prefix of a[i:] and b[j:] (step=1) or of the
    common suffix of a[:i] and b[:j] (step=-1), by galloping slice
    compares."""
    def same(m: int) -> bool:
        if step > 0:
            return a[i:i + m] == b[j:j + m]
        return a[i - m:i] == b[j - m:j]

    cap = min(len(a) - i, len(b) - j) if step > 0 else min(i, j)
    lo, hi = 0, 1
    while hi <= cap and same(hi):
        lo, hi = hi, hi * 2
    hi = min(hi, cap + 1)
    while hi - lo > 1:  # same(lo) holds, same(hi) does not (or hi > cap)
        mid = (lo + hi) // 2
        lo, hi = (mid, hi) if same(mid) else (lo, mid)
    return lo


def shares_block(a: bytes, b: bytes, min_len: int) -> bool:
    """True iff a and b share a verbatim run of >= min_len bytes. Any such
    run contains a half-length window of a starting at a multiple of
    min_len // 2; each occurrence of that window in b is extended."""
    h = max(min_len // 2, 1)
    if len(a) < min_len or len(b) < min_len:
        return False
    for q in range(0, len(a) - h + 1, h):
        w = a[q:q + h]
        j = b.find(w)
        while j >= 0:
            run = (_common_run(a, q, b, j, -1) + h
                   + _common_run(a, q + h, b, j + h, 1))
            if run >= min_len:
                return True
            j = b.find(w, j + 1)
    return False


def _shingle_ids(texts: list[str], k: int) -> list[np.ndarray]:
    """Exact integer ids of each text's distinct k-token shingles, with
    the oracle's tokenizer and its short-text rule (fewer than k tokens ->
    one shingle over all of them). Token ids are local to ``texts``; a
    shingle id is its k token ids in base (vocabulary + 1), which is exact
    while that fits in 62 bits."""
    vocab: dict[str, int] = {}
    seqs = [
        np.array([vocab.setdefault(x, len(vocab)) for x in tokens(t)],
                 dtype=np.int64)
        for t in texts
    ]
    base = len(vocab) + 1
    if base ** k >= 1 << 62:
        raise ValueError(f"{base - 1} distinct tokens: shingle ids would "
                         "not be exact")
    out = []
    for s in seqs:
        if len(s) == 0:
            out.append(np.empty(0, dtype=np.int64))
            continue
        win = (np.lib.stride_tricks.sliding_window_view(s, k)
               if len(s) >= k else np.append(s, [-1] * (k - len(s)))[None])
        ids = np.zeros(len(win), dtype=np.int64)
        for j in range(k):
            ids = ids * base + win[:, j] + 1
        out.append(np.unique(ids))
    return out


def _jaccard_pairs(sets: list[np.ndarray], s: float) -> list[tuple[int, int]]:
    """Index pairs with exact Jaccard >= s. Intersections come from one
    matrix product over the shingles that occur in >= 2 of the sets."""
    m = len(sets)
    if m < 2:
        return []
    allv = np.concatenate(sets)
    uniq, cnt = np.unique(allv, return_counts=True)
    shared = uniq[cnt >= 2]
    x = np.zeros((m, len(shared)), dtype=np.float32)
    for i, st in enumerate(sets):
        x[i, np.searchsorted(shared, st[np.isin(st, shared)])] = 1.0
    inter = x @ x.T
    size = np.array([len(st) for st in sets], dtype=np.float64)
    union = size[:, None] + size[None, :] - inter
    with np.errstate(divide="ignore", invalid="ignore"):
        jac = np.where(union > 0, inter / union, 0.0)
    iu, ju = np.triu_indices(m, 1)
    keep = jac[iu, ju] >= s
    return list(zip(iu[keep].tolist(), ju[keep].tolist()))


def reference(
    pdf: pd.DataFrame, shingle_k: int, jaccard_s: float, min_substring_len: int,
    with_edges: bool = False,
) -> tuple[np.ndarray, pd.DataFrame | None]:
    """(component label per row, optional exact/near edge list).

    Rows are linked when they are byte-identical, when the Jaccard of
    their k-shingle sets is >= jaccard_s (the oracle's two edge kinds), or
    when they share a verbatim block of >= min_substring_len bytes (what
    the substring pass finds). Links are searched inside ``family`` only.
    Substring checks run only between rows not yet connected, which
    leaves the components unchanged. The edge list (row-index pairs,
    kinds 'exact' and 'near') is built only when asked for, since a mega
    exact family has millions of pairs."""
    n = len(pdf)
    content = pdf["content"].tolist()
    sha = [hashlib.sha256(c.encode()).hexdigest() for c in content]
    dsu = _DSU(n)
    edges: list[tuple[int, int, str]] = []

    by_sha: dict[str, list[int]] = defaultdict(list)
    for i, h in enumerate(sha):
        by_sha[h].append(i)
    for members in by_sha.values():
        for j in members[1:]:
            dsu.union(members[0], j)
        if with_edges:
            edges += [(a, b, "exact") for x, a in enumerate(members)
                      for b in members[x + 1:]]

    fams: dict[int, list[int]] = defaultdict(list)
    for i, f in enumerate(pdf["family"].tolist()):
        fams[f].append(i)
    for members in fams.values():
        reps = sorted({by_sha[sha[i]][0] for i in members})
        if len(reps) < 2:
            continue
        sets = _shingle_ids([content[i] for i in reps], shingle_k)
        for a, b in _jaccard_pairs(sets, jaccard_s):
            dsu.union(reps[a], reps[b])
            if with_edges:
                edges += [(x, y, "near") for x in by_sha[sha[reps[a]]]
                          for y in by_sha[sha[reps[b]]]]
        raw = {i: content[i].encode() for i in reps}
        for x, a in enumerate(reps):
            for b in reps[x + 1:]:
                if dsu.find(a) != dsu.find(b) and shares_block(
                    raw[a], raw[b], min_substring_len
                ):
                    dsu.union(a, b)
    labels = np.array([dsu.find(i) for i in range(n)], dtype=np.int64)
    if not with_edges:
        return labels, None
    e = pd.DataFrame(edges, columns=["i", "j", "kind"])
    e[["i", "j"]] = np.sort(e[["i", "j"]].to_numpy(), axis=1)
    return labels, e


def pair_scores(ref: np.ndarray, got: np.ndarray) -> tuple[float, float]:
    """(pair recall, pair precision) of a clustering against the reference
    components, counted over file pairs without enumerating them: recall
    is the share of reference co-clustered pairs that the program
    co-clusters, precision the share of the program's co-clustered pairs
    that the reference co-clusters."""
    def pairs(counts: np.ndarray) -> float:
        c = counts.astype(np.float64)
        return float((c * (c - 1) / 2).sum())

    both = pairs(pd.Series(list(zip(ref, got))).value_counts().to_numpy())
    ref_p = pairs(pd.Series(ref).value_counts().to_numpy())
    got_p = pairs(pd.Series(got).value_counts().to_numpy())
    return (both / ref_p if ref_p else 1.0), (both / got_p if got_p else 1.0)


# --- ann_serve: clustered vectors ------------------------------------------

def ann_vectors(n: int, dim: int, seed: int) -> np.ndarray:
    """Gaussian clusters around 64 random centres (float64, n x dim)."""
    rng = np.random.default_rng([seed, 0xA22])
    centres = rng.normal(size=(64, dim))
    return centres[rng.integers(0, 64, n)] + 0.35 * rng.normal(size=(n, dim))


def exact_top_k(items: np.ndarray, ids: np.ndarray, queries: np.ndarray,
                k: int) -> np.ndarray:
    """Exact angular top-k ids per query (numpy; ties by id)."""
    iu = items / np.maximum(np.linalg.norm(items, axis=1, keepdims=True), 1e-30)
    qu = queries / np.maximum(
        np.linalg.norm(queries, axis=1, keepdims=True), 1e-30
    )
    sim = qu @ iu.T
    top = np.argpartition(-sim, k, axis=1)[:, : k + 8]
    out = np.empty((len(queries), k), dtype=np.int64)
    for r in range(len(queries)):
        c = top[r]
        order = np.lexsort((ids[c], -sim[r, c]))
        out[r] = ids[c[order[:k]]]
    return out

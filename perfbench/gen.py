"""Seeded input generators and their expected results.

Everything here is pure numpy/pyarrow: the program under test receives
only the files written here, and the expectations are computed from
the generator's own arrays, never by the engine.

- :func:`history` / :func:`write_arrivals` — a graphite-shaped points
  history (gaps, outages, late rewrites, in-file duplicates) cut into
  arrival files, plus the last-writer-wins table those files imply.
- :func:`tail_commits` — carbon-style small commits after the history.
- :func:`corpus` / :func:`simhash64` / :func:`expected_pairs` — a
  document corpus with planted near-duplicate edit chains, and an
  independent numpy SimHash + pigeonhole-band oracle for its pairs.
- :func:`embeddings` — clustered unit vectors for the top-k search.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

STEP = 60
DAY = 86400
#: history ends at a UTC midnight so date partitions are whole days
END = 1_700_006_400
LEAVES = (
    "cpu.user", "cpu.system", "mem.used", "mem.free",
    "disk.read", "disk.write", "net.rx", "net.tx",
)


def metric_names(n_dc: int, n_host: int) -> list[str]:
    return [
        f"dc{d}.host{h:03d}.{leaf}"
        for d in range(n_dc)
        for h in range(n_host)
        for leaf in LEAVES
    ]


@dataclass
class History:
    metrics: list[str]
    #: raw arrival rows in arrival order: metric index, ts, value
    midx: np.ndarray
    ts: np.ndarray
    value: np.ndarray
    #: arrival file index of each row (rows are sorted by it)
    file_idx: np.ndarray
    start: int

    @property
    def n_files(self) -> int:
        return int(self.file_idx.max()) + 1


def history(
    rng: np.random.Generator,
    metrics: list[str],
    days: int,
    n_files: int,
    drop: float = 0.02,
    outages: int = 2,
    rewrite: float = 0.02,
    in_file_dup: float = 0.01,
) -> History:
    """``days`` of 60 s points per metric ending at :data:`END`.

    Gaps: a ``drop`` share of single points plus ``outages`` windows of
    20-120 min per metric. The kept points are cut chronologically
    into ``n_files`` arrival files (a backfilling relay); then a
    ``rewrite`` share of points is re-sent with a new value in a LATER
    file (late rewrites) and an ``in_file_dup`` share is repeated
    later within its own file, and each file is shuffled (out of
    order). Values have two decimals."""
    n_m = len(metrics)
    start = END - days * DAY
    slots = days * DAY // STEP
    ts_grid = start + STEP * np.arange(slots, dtype=np.int64)
    keep = rng.random((n_m, slots)) >= drop
    for m in range(n_m):
        for _ in range(outages):
            width = int(rng.integers(20, 121))
            at = int(rng.integers(0, slots - width))
            keep[m, at:at + width] = False
    base = rng.uniform(10, 100, n_m)
    amp = rng.uniform(1, 20, n_m)
    phase = rng.uniform(0, 2 * np.pi, n_m)
    m_all, s_all = np.nonzero(keep)  # row-major: metric, then time
    order = np.argsort(s_all, kind="stable")  # chronological
    m_all, s_all = m_all[order], s_all[order]
    ts = ts_grid[s_all]
    val = np.round(
        base[m_all]
        + amp[m_all] * np.sin(2 * np.pi * (ts % DAY) / DAY + phase[m_all])
        + rng.normal(0, 1, len(ts)),
        2,
    )
    f_idx = (np.arange(len(ts)) * n_files // len(ts)).astype(np.int64)

    n_rw = int(len(ts) * rewrite) if n_files > 1 else 0
    rw = rng.choice(np.flatnonzero(f_idx < n_files - 1), n_rw, replace=False)
    rw_file = np.array(
        [rng.integers(f_idx[i] + 1, n_files) for i in rw], dtype=np.int64
    )
    n_dup = int(len(ts) * in_file_dup)
    dup = rng.choice(len(ts), n_dup, replace=False)

    midx = np.concatenate([m_all, m_all[rw], m_all[dup]]).astype(np.int32)
    tss = np.concatenate([ts, ts[rw], ts[dup]])
    vals = np.concatenate([
        val,
        np.round(val[rw] + rng.uniform(1, 5, n_rw), 2),
        np.round(val[dup] + rng.uniform(1, 5, n_dup), 2),
    ])
    files = np.concatenate([f_idx, rw_file, f_idx[dup]])
    # within a file: shuffle, except that an in-file duplicate must
    # arrive after the row it repeats (it is the later write)
    is_dup = np.concatenate([
        np.zeros(len(ts) + n_rw, bool), np.ones(n_dup, bool)
    ])
    key = rng.random(len(files)) + is_dup  # dups sort last in file
    order = np.lexsort((key, files))
    return History(
        metrics, midx[order], tss[order], vals[order], files[order], start,
    )


def write_arrivals(h: History, out_dir: str, seq0: int = 0) -> list[str]:
    """One parquet file per arrival file with columns (metric, ts,
    value, arrival_seq); ``arrival_seq`` is the global arrival order,
    so within-batch LWW resolves to the later row. File mtimes
    increase with the file index, which is the order the streaming
    file source consumes them in."""
    os.makedirs(out_dir, exist_ok=True)
    names = np.asarray(h.metrics, dtype=object)
    seq = seq0 + np.arange(len(h.ts), dtype=np.int64)
    paths = []
    bounds = np.searchsorted(h.file_idx, np.arange(h.n_files + 1))
    for f in range(h.n_files):
        lo, hi = bounds[f], bounds[f + 1]
        table = pa.table({
            "metric": pa.array(names[h.midx[lo:hi]], pa.string()),
            "ts": pa.array(h.ts[lo:hi], pa.int64()),
            "value": pa.array(h.value[lo:hi], pa.float64()),
            "arrival_seq": pa.array(seq[lo:hi], pa.int64()),
        })
        path = os.path.join(out_dir, f"arrival-{f:04d}.parquet")
        pq.write_table(table, path)
        t = 1_600_000_000 + f
        os.utime(path, (t, t))
        paths.append(path)
    return paths


def lww(h: History, commits: list["Commit"] = ()) -> pd.DataFrame:
    """The generator's last-writer-wins table: (metric, ts, value),
    one row per written (metric, ts), sorted. History rows resolve by
    arrival order; commits (all after the history) by commit order."""
    parts = [pd.DataFrame({
        "metric": np.asarray(h.metrics, dtype=object)[h.midx],
        "ts": h.ts,
        "value": h.value,
    })]
    parts += [
        pd.DataFrame({"metric": c.metric, "ts": c.ts, "value": c.value})
        for c in commits
    ]
    df = pd.concat(parts, ignore_index=True)
    df = df.drop_duplicates(["metric", "ts"], keep="last")
    return df.sort_values(["metric", "ts"], ignore_index=True)


@dataclass
class Commit:
    metric: str
    ts: np.ndarray
    value: np.ndarray


def tail_commits(
    rng: np.random.Generator,
    metrics: list[str],
    n: int,
    points: tuple[int, int] = (10, 30),
    span: int = 1800,
) -> list[Commit]:
    """``n`` carbon-style commits: tens of points for one node each,
    in the ``span`` seconds after the history (commits may overwrite
    each other's points; the later commit wins)."""
    out = []
    for _ in range(n):
        k = int(rng.integers(points[0], points[1] + 1))
        slots = rng.choice(span // STEP, k, replace=False)
        out.append(Commit(
            metrics[int(rng.integers(len(metrics)))],
            (END + STEP * np.sort(slots)).astype(np.int64),
            np.round(rng.uniform(0, 100, k), 2),
        ))
    return out


# ---------------------------------------------------------------- corpus

@dataclass
class Corpus:
    doc_id: np.ndarray
    text: list[str]


def _token_signs(words) -> np.ndarray:
    """(vocab, 64) int16 matrix of +-1 SimHash votes per token."""
    digests = np.frombuffer(
        b"".join(hashlib.md5(w.encode()).digest()[8:16] for w in words),
        dtype=np.uint8,
    ).reshape(-1, 8)
    return np.unpackbits(digests, axis=1, bitorder="little").astype(np.int16) * 2 - 1


def _pack(votes: np.ndarray) -> np.ndarray:
    """Rows of 64 votes -> uint64 words (bit j set iff vote j > 0)."""
    return np.packbits(votes > 0, axis=-1, bitorder="little").view(np.uint64).reshape(-1)


def _distinct_rows(rng, n: int, k: int, vocab: int) -> np.ndarray:
    """``n`` rows of ``k`` distinct token ids."""
    out = rng.integers(vocab, size=(n, k))
    while True:
        s = np.sort(out, axis=1)
        bad = np.flatnonzero((s[:, 1:] == s[:, :-1]).any(axis=1))
        if not len(bad):
            return out
        out[bad] = rng.integers(vocab, size=(len(bad), k))


def corpus(
    rng: np.random.Generator,
    n_docs: int,
    n_chains: int,
    chain_len: int,
    doc_len: int = 64,
    vocab: int = 30000,
    max_hamming: int = 8,
) -> Corpus:
    """``n_chains`` edit chains of ``chain_len`` docs plus unrelated
    docs of ``doc_len`` distinct tokens. Each chain step replaces three
    tokens, re-drawn until the step's SimHash distance is at most
    ``max_hamming`` while every earlier member is farther: each chain
    is then exactly a path. Any other pair that lands within
    ``max_hamming`` by chance (two chains, a chain and an unrelated
    doc, two unrelated docs) is broken by re-drawing the later chain or
    the unrelated doc, so the corpus holds exactly ``chain_len - 1``
    near-dup pairs and one cluster per chain. Ids ascend along each
    chain, so min-label propagation needs ``chain_len - 1`` rounds to
    reach the far end."""
    words = np.array([f"w{i}" for i in range(vocab)], dtype=object)
    signs = _token_signs(words)
    rows = [_chain(rng, signs, chain_len, doc_len, vocab, max_hamming)
            for _ in range(n_chains)]
    toks = np.vstack(rows + [_distinct_rows(rng, n_docs - n_chains * chain_len,
                                            doc_len, vocab)])
    n_chained = n_chains * chain_len
    planted = {(i, i + 1) for i in range(n_chained) if (i + 1) % chain_len}
    while True:
        h = _pack(signs[toks].sum(axis=1))
        stray = expected_pairs(np.arange(n_docs), h, max_hamming) - planted
        if not stray:
            break
        for b in sorted({b for _, b in stray}):  # b is the later doc
            if b >= n_chained:
                toks[b] = _distinct_rows(rng, 1, doc_len, vocab)[0]
            else:
                c = b // chain_len
                toks[c * chain_len:(c + 1) * chain_len] = _chain(
                    rng, signs, chain_len, doc_len, vocab, max_hamming)
    texts = [" ".join(r) for r in words[toks]]
    # ids are scattered over the corpus, but ascend along each chain
    ids = np.sort(rng.choice(n_docs * 4, n_docs, replace=False)).astype(np.int64)
    slot_of = rng.permutation(n_docs)
    for c in range(n_chains):
        at = slice(c * chain_len, (c + 1) * chain_len)
        slot_of[at] = np.sort(slot_of[at])
    return Corpus(ids[slot_of], texts)


def _chain(rng, signs: np.ndarray, chain_len: int, doc_len: int, vocab: int,
           max_hamming: int) -> np.ndarray:
    """One edit chain: (chain_len, doc_len) token ids whose SimHash
    distance is at most ``max_hamming`` between neighbours only."""
    members: list[np.ndarray] = []
    while len(members) < chain_len:
        if not members or tries > 100:  # (re)start a stuck chain
            members = [_distinct_rows(rng, 1, doc_len, vocab)[0]]
            hashes = _pack(signs[members[0]].sum(axis=0))
            tries = 0
        tries += 1
        nxt = members[-1].copy()
        for pos in rng.choice(doc_len, 3, replace=False):
            new = int(rng.integers(vocab))
            while new in nxt:
                new = int(rng.integers(vocab))
            nxt[pos] = new
        h = _pack(signs[nxt].sum(axis=0))
        d = _popcount64(hashes ^ h)
        if d[-1] <= max_hamming and (d[:-1] > max_hamming).all():
            members.append(nxt)
            hashes = np.concatenate([hashes, h])
    return np.vstack(members)


def write_corpus(c: Corpus, path: str) -> None:
    pq.write_table(
        pa.table({
            "doc_id": pa.array(c.doc_id, pa.int64()),
            "text": pa.array(c.text, pa.string()),
        }),
        path,
        row_group_size=4096,
    )


def simhash64(texts: list[str]) -> np.ndarray:
    """numpy SimHash with the engine's token rules (lower-cased,
    space-split, distinct tokens; token hash = md5 digest bytes 8..16
    little-endian; bit set iff its vote sum is positive)."""
    vocab: dict[str, int] = {}
    rows = [
        [vocab.setdefault(tok, len(vocab)) for tok in set(t.lower().split(" "))]
        for t in texts
    ]
    signs = _token_signs(list(vocab))
    return np.concatenate([_pack(signs[r].sum(axis=0)) for r in rows])


def _popcount64(x: np.ndarray) -> np.ndarray:
    b = x.view(np.uint8).reshape(-1, 8)
    return np.unpackbits(b, axis=1).sum(axis=1)


def expected_pairs(
    doc_id: np.ndarray, sh: np.ndarray, max_hamming: int = 8
) -> set[tuple[int, int]]:
    """All (doc_a < doc_b) with Hamming distance <= ``max_hamming``,
    found losslessly by the pigeonhole rule: split the fingerprint
    into ``max_hamming + 1`` bands; any such pair agrees on a band."""
    n_bands = max_hamming + 1
    sizes = [64 // n_bands + (1 if i < 64 % n_bands else 0) for i in range(n_bands)]
    pairs: set[tuple[int, int]] = set()
    off = 0
    for s in sizes:
        band = (sh >> np.uint64(off)) & np.uint64((1 << s) - 1)
        off += s
        order = np.argsort(band, kind="stable")
        b_sorted = band[order]
        # equal band values are contiguous once sorted: compare each doc
        # with the one k places on, for k up to the largest bucket
        for k in range(1, len(order)):
            same = b_sorted[k:] == b_sorted[:-k]
            if not same.any():
                break
            a, b = order[:-k][same], order[k:][same]
            close = _popcount64(sh[a] ^ sh[b]) <= max_hamming
            for x, y in zip(doc_id[a[close]], doc_id[b[close]]):
                pairs.add((int(min(x, y)), int(max(x, y))))
    return pairs


def clusters(pairs: set[tuple[int, int]]) -> dict[int, int]:
    """Union-find over the pair graph: doc -> min doc id of its
    component (only docs that appear in a pair)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def embeddings(
    rng: np.random.Generator, n: int, dim: int, n_clusters: int,
    spread: float = 0.35,
) -> np.ndarray:
    """``n`` unit vectors around ``n_clusters`` random centres."""
    centres = rng.normal(size=(n_clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    x = centres[rng.integers(n_clusters, size=n)]
    x = x + rng.normal(scale=spread / np.sqrt(dim), size=(n, dim))
    return (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)


def write_embeddings(vecs: np.ndarray, path: str) -> None:
    flat = pa.array(vecs.reshape(-1), pa.float32())
    col = pa.FixedSizeListArray.from_arrays(flat, vecs.shape[1]).cast(
        pa.list_(pa.float32())
    )
    pq.write_table(
        pa.table({
            "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
            "embedding": col,
        }),
        path,
        row_group_size=4096,
    )

"""Reference model of the package's synthetic generators.

Every expected value the benchmark checks comes from here: the generator
formulas of ``sources.synthetic`` re-derived in numpy, never read back from
the package. Spark's ``xxhash64`` (XXH64, seed 42) is re-implemented for the
8-byte (long) and 4-byte (int) inputs the generators hash.
"""

from __future__ import annotations

import numpy as np

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)
_SEED = np.uint64(42)

# the word list of sources.synthetic.mock_documents, in generator order
VOCAB = (
    "spark table query scan column row value batch part line order sort fast "
    "small agg join group filter read write file block cache hash merge split "
    "index store vector text token count range shuffle stage plan code page "
    "byte key pair list map set tree node edge path graph slot tick span mark "
    "seed gate lane rank tier fold wrap clip trim pad"
).split()


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def xxhash64_long(values) -> np.ndarray:
    """Spark ``xxhash64`` of a BIGINT column (signed result)."""
    v = np.asarray(values, dtype=np.int64).astype(np.uint64)
    with np.errstate(over="ignore"):
        h = _SEED + _P5 + np.uint64(8)
        h = h ^ (_rotl(v * _P2, 31) * _P1)
        h = _rotl(h, 27) * _P1 + _P4
        return _fmix(h).view(np.int64)


def xxhash64_int(values) -> np.ndarray:
    """Spark ``xxhash64`` of an INT column (signed result)."""
    v = np.asarray(values, dtype=np.int64).astype(np.uint64) & np.uint64(0xFFFFFFFF)
    with np.errstate(over="ignore"):
        h = _SEED + _P5 + np.uint64(4)
        h = h ^ (v * _P1)
        h = _rotl(h, 23) * _P2 + _P3
        return _fmix(h).view(np.int64)


# ------------------------------------------------------------ mock_dataset --


def mock_rows(ids: np.ndarray) -> dict[str, np.ndarray]:
    """Integer columns of ``mock_dataset`` for the given ids.

    ``value1`` is left out: Spark evaluates its formula in DECIMAL
    arithmetic, so the checks use the exact integer columns only."""
    ids = np.asarray(ids, dtype=np.int64)
    grp = ((ids * 1103515245 + 12345) % 2147483648) % 4
    v2 = (ids * 48271 + 11) % 2147483647 % 1000 + 1
    return {
        "id": ids,
        "group": np.array(list("ABCD"))[grp],
        "value2": v2.astype(np.int64),
    }


class TableModel:
    """A keyed table (id -> (group, value2)) with a state recorded per snapshot.

    Each state is (row count, id sum, value2 sum) overall and per group: the
    aggregates the benchmark's scans compute, so a scan is checked exactly.
    """

    def __init__(self) -> None:
        self.rows: dict[int, tuple[str, int]] = {}
        self.states: dict[int, dict] = {}
        self.ops: list[str] = []

    def upsert(self, ids, groups, value2) -> None:
        for i, g, v in zip(ids.tolist(), groups.tolist(), value2.tolist()):
            self.rows[i] = (g, v)

    def delete(self, ids) -> None:
        for i in np.asarray(ids).tolist():
            self.rows.pop(i, None)

    def delete_where_value2_le(self, t: int) -> None:
        self.rows = {i: r for i, r in self.rows.items() if r[1] > t}

    def commit(self, operation: str) -> int:
        self.ops.append(operation)
        sid = len(self.ops)
        self.states[sid] = self.aggregate()
        return sid

    def aggregate(self, group: str | None = None) -> tuple[int, int, int]:
        sel = [(i, v) for i, (g, v) in self.rows.items() if group is None or g == group]
        return (len(sel), sum(i for i, _ in sel), sum(v for _, v in sel))


def member(ids: np.ndarray, mult: int, add: int, mod: int) -> np.ndarray:
    """Seeded batch membership, the numpy twin of ``member_sql``."""
    return (np.asarray(ids, dtype=np.int64) * mult + add) % mod == 0


def member_sql(col: str, mult: int, add: int, mod: int) -> str:
    return f"({col} * {mult} + {add}) % {mod} = 0"


# --------------------------------------------------------- mock_documents --


def _pmod(a: np.ndarray, n: int) -> np.ndarray:
    return np.mod(a, n)  # numpy mod is non-negative for n > 0, like pmod


def documents(ids: np.ndarray) -> list[str]:
    """Texts of ``mock_documents`` for the given doc ids."""
    ids = np.asarray(ids, dtype=np.int64)
    nv = len(VOCAB)
    seed = ids - (ids % 20 == 1)
    n_words = _pmod(xxhash64_long(seed * 31 + 5), 40) + 20
    pos = np.arange(int(n_words.max()) if len(ids) else 0, dtype=np.int64)
    word_idx = _pmod(xxhash64_long(seed[:, None] * 97 + pos[None, :]), nv)
    mut_idx = _pmod(xxhash64_long(ids * 131 + 7), nv)
    texts = []
    for i, doc_id in enumerate(ids.tolist()):
        words = [VOCAB[w] for w in word_idx[i, : n_words[i]]]
        if doc_id % 20 == 1:
            words[-1] = VOCAB[mut_idx[i]]
        texts.append(" ".join(words))
    return texts


def shingles(text: str, k: int = 3) -> set[str]:
    """Distinct k-word shingles of a normalized text (operators.dedup's rule)."""
    toks = " ".join(text.lower().split()).split(" ")
    return {" ".join(toks[i : i + k]) for i in range(max(len(toks) - k, 0) + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


# -------------------------------------------------------- mock_embeddings --


def _uniform(h: np.ndarray) -> np.ndarray:
    return _pmod(h, 2000003).astype(np.float64) / 1000001.5 - 1.0


def cluster_centers(n_clusters: int = 32, dim: int = 64) -> np.ndarray:
    """The cluster centers ``mock_embeddings`` scatters vectors around."""
    labels = np.arange(n_clusters, dtype=np.int64)[:, None]
    d = np.arange(dim, dtype=np.int64)[None, :]
    return 0.8 * _uniform(xxhash64_int(labels * 8191 + d * 131 + 17))


def embeddings(ids: np.ndarray, dim: int = 64, n_clusters: int = 32) -> np.ndarray:
    """float32 vectors of ``mock_embeddings`` for the given vec ids."""
    ids = np.asarray(ids, dtype=np.int64)
    labels = _pmod(xxhash64_long(ids * 29 + 1), n_clusters)[:, None]
    d = np.arange(dim, dtype=np.int64)[None, :]
    center = 0.8 * _uniform(xxhash64_int(labels * 8191 + d * 131 + 17))
    noise = 0.3 * _uniform(xxhash64_long(ids[:, None] * 6151 + d * 257 + 11))
    return (center + noise).astype(np.float32)


def cosine_topk(corpus_ids, corpus: np.ndarray, query_ids, k: int) -> dict[int, list[tuple[int, float]]]:
    """Brute-force cosine top-k per query, the query itself excluded."""
    X = corpus.astype(np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    pos = {int(v): i for i, v in enumerate(corpus_ids)}
    out = {}
    for q in query_ids:
        s = Xn @ Xn[pos[int(q)]]
        s[pos[int(q)]] = -np.inf
        order = np.lexsort((np.asarray(corpus_ids), -s))[:k]
        out[int(q)] = [(int(corpus_ids[j]), float(s[j])) for j in order]
    return out


# ------------------------------------------------------------ media assets --


def media_features(doc_ids: np.ndarray, texts: list[str]) -> dict[str, int]:
    """Aggregates of ``extract_media_features(attach_media_assets(docs))``."""
    agg = {"text/plain": 0, "image/bmp": 0, "audio/wav": 0}
    n_bytes = width = height = rate = n_samples = 0
    for doc_id, text in zip(np.asarray(doc_ids).tolist(), texts):
        kind = doc_id % 3
        if kind == 1:
            w, h = 4 + doc_id % 16, 2 + doc_id % 8
            agg["image/bmp"] += 1
            n_bytes += 54 + ((w * 3 + 3) // 4) * 4 * h
            width += w
            height += h
        elif kind == 2:
            r, n = 8000 + (doc_id % 4) * 4000, 100 + doc_id % 50
            agg["audio/wav"] += 1
            n_bytes += 44 + 2 * n
            rate += r
            n_samples += n
        else:
            agg["text/plain"] += 1
            n_bytes += len(text.encode("utf-8"))
    return {
        **{f"n_{m}": c for m, c in agg.items()},
        "n_bytes": n_bytes,
        "width": width,
        "height": height,
        "sample_rate": rate,
        "n_samples": n_samples,
    }

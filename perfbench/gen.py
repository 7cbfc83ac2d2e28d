"""Seeded input generator for the benchmark workloads.

Every field is a closed-form hash of the row id salted by the run's
seed (splitmix64 over numpy uint64 arrays), so the same seed always
gives byte-identical inputs, any id range can be generated on its own,
and no random-number state exists anywhere. The system under test only ever
sees the parquet / JSON files written here.

Sizes (sf0.1-shaped, the shape of the repo's shipped testdata):

- star schema: region 5, nation 25, customer 15k, supplier 1k,
  part 20k, orders 150k, lineitem ~600k (1-7 lines per order);
- events: 100k rows, 1500 users over 30 days;
- documents: 5k docs of 40-80 words; every doc with id % 10 == 1 is a
  planted near-duplicate: a copy of an older doc with ONE interior word
  replaced (3-shingle Jaccard >= 0.85 against its source);
- embeddings: 2k 64-dim vectors around 10 label centres; every
  vector with id % 50 == 1 is a planted copy of an older vector plus
  1 % noise (cosine > 0.99 against its source).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)
_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000
_EPOCH_2024_US = 1_704_067_200_000_000

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
STATUSES = ("O", "F", "P")
PTYPES = ("ECONOMY", "SMALL", "LARGE", "STANDARD", "MEDIUM", "PROMO")
PADJ = ("blue", "old", "large", "hot", "cold", "red", "small", "new")
PNOUN = ("widget", "ring", "gear", "gizmo", "bolt", "plate", "rod", "anvil")
EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
# common words (the testdata's vocabulary) + en/de/fr stopwords, so the
# quality and language-id scorers see real signal; the rest of a
# document is drawn from RARE_VOCAB rare tokens
COMMON = ("batch part spark line column order small sort fast value scan "
          "hash slow group agg filter query big key window row table "
          "stream merge data vector the and of to in is that it der die "
          "und das ist nicht le la et les des est").split()
RARE_VOCAB = 5000

N_ORDERS = 150_000
N_CUST, N_SUPP, N_PART = 15_000, 1_000, 20_000
N_EVENTS, N_USERS = 100_000, 1_500
N_DOCS, N_VECS, DIM = 5_000, 2_000, 64


def _mix(x: np.ndarray) -> np.ndarray:
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def hash64(seed: int, salt: int, *ids: np.ndarray) -> np.ndarray:
    """splitmix64 of (seed, salt, ids...) — uint64, elementwise."""
    with np.errstate(over="ignore"):
        acc = _mix(np.full(np.broadcast(*ids).shape,
                           np.uint64((seed * 0x9E3779B97F4A7C15
                                      + salt * 0xD1B54A32D192ED03)
                                     & 0xFFFFFFFFFFFFFFFF)))
        for x in ids:
            acc = _mix(acc ^ (np.asarray(x).astype(np.uint64)
                              * np.uint64(0x9E3779B97F4A7C15)))
    return acc


def _mod(h: np.ndarray, n) -> np.ndarray:
    return (h % np.uint64(n)).astype(np.int64)


def _unit(h: np.ndarray) -> np.ndarray:
    """uint64 hash -> float64 uniform on (0, 1)."""
    return ((h >> np.uint64(11)).astype(np.float64) + 0.5) * 2.0 ** -53


def _gauss(seed: int, salt: int, *ids) -> np.ndarray:
    u1 = _unit(hash64(seed, salt, *ids))
    u2 = _unit(hash64(seed, salt + 1, *ids))
    return np.sqrt(-2.0 * np.log(u1)) * np.cos(2.0 * np.pi * u2)


def _pick(values, h: np.ndarray) -> np.ndarray:
    return np.asarray(values, dtype=object)[_mod(h, len(values))]


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("datetime64[us]"))


def _write(table: dict, path: str) -> None:
    pq.write_table(pa.table(table), path)


def write_star(out: str, seed: int) -> None:
    """The TPC-H-shaped star schema plus ``events``."""
    s = seed
    _write({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": list(REGIONS)}, f"{out}/region.parquet")
    nk = np.arange(25, dtype=np.int32)
    _write({"n_nationkey": pa.array(nk),
            "n_name": [f"NATION_{i}" for i in nk],
            "n_regionkey": pa.array(nk % 5)}, f"{out}/nation.parquet")

    ids = np.arange(N_CUST)
    _write({"c_custkey": ids,
            "c_name": [f"Customer#{i:09d}" for i in ids],
            "c_nationkey": _mod(hash64(s, 1, ids), 25).astype(np.int32),
            "c_acctbal": _mod(hash64(s, 2, ids), 1_000_000) / 100.0,
            "c_mktsegment": _pick(SEGMENTS, hash64(s, 3, ids))},
           f"{out}/customer.parquet")
    ids = np.arange(N_SUPP)
    _write({"s_suppkey": ids,
            "s_name": [f"Supplier#{i:09d}" for i in ids],
            "s_nationkey": _mod(hash64(s, 4, ids), 25).astype(np.int32),
            "s_acctbal": _mod(hash64(s, 5, ids), 1_000_000) / 100.0},
           f"{out}/supplier.parquet")
    ids = np.arange(N_PART)
    adj, noun = _pick(PADJ, hash64(s, 6, ids)), _pick(PNOUN, hash64(s, 7, ids))
    _write({"p_partkey": ids,
            "p_name": [f"{a} {n}" for a, n in zip(adj, noun)],
            "p_brand": [f"Brand#{b}" for b in _mod(hash64(s, 8, ids), 25)],
            "p_type": _pick(PTYPES, hash64(s, 9, ids)),
            "p_size": (_mod(hash64(s, 10, ids), 50) + 1).astype(np.int32),
            "p_retailprice": 900.0 + _mod(hash64(s, 11, ids), 1000) / 10.0},
           f"{out}/part.parquet")

    ok = np.arange(N_ORDERS)
    odate = _EPOCH_1995_US + _mod(hash64(s, 15, ok), 2404) * _DAY_US
    _write({"o_orderkey": ok,
            "o_custkey": _mod(hash64(s, 12, ok), N_CUST),
            "o_orderstatus": _pick(STATUSES, hash64(s, 13, ok)),
            "o_totalprice": _mod(hash64(s, 14, ok), 40_000_000) / 100.0 + 900.0,
            "o_orderdate": _ts(odate),
            "o_orderpriority": _pick(PRIORITIES, hash64(s, 16, ok))},
           f"{out}/orders.parquet")

    n_lines = _mod(hash64(s, 17, ok), 7) + 1
    l_ok = np.repeat(ok, n_lines)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    l_no = np.arange(len(l_ok)) - starts + 1
    lk = l_ok * 8 + l_no
    _write({"l_orderkey": l_ok,
            "l_partkey": _mod(hash64(s, 18, lk), N_PART),
            "l_suppkey": _mod(hash64(s, 19, lk), N_SUPP),
            "l_linenumber": l_no.astype(np.int32),
            "l_quantity": (_mod(hash64(s, 20, lk), 50) + 1).astype(np.float64),
            "l_extendedprice": 900.0 + _mod(hash64(s, 21, lk), 10_410_000) / 100.0,
            "l_discount": _mod(hash64(s, 22, lk), 11) / 100.0,
            "l_tax": _mod(hash64(s, 23, lk), 9) / 100.0,
            "l_returnflag": _pick(("N", "A", "R"), hash64(s, 24, lk)),
            "l_linestatus": _pick(("O", "F"), hash64(s, 25, lk)),
            "l_shipdate": _ts(np.repeat(odate, n_lines)
                              + (_mod(hash64(s, 26, lk), 95) + 1) * _DAY_US)},
           f"{out}/lineitem.parquet")

    ev = np.arange(N_EVENTS)
    step = 30 * _DAY_US // N_EVENTS
    _write({"event_id": ev,
            "ts": _ts(_EPOCH_2024_US + ev * step + _mod(hash64(s, 30, ev), step)),
            "user_id": _mod(hash64(s, 31, ev), N_USERS),
            "event_type": _pick(EVENT_TYPES, hash64(s, 32, ev)),
            "value": _mod(hash64(s, 33, ev), 56_000) / 100.0,
            "props": [f'{{"k": {k}}}' for k in _mod(hash64(s, 34, ev), 100)]},
           f"{out}/events.parquet")


def copy_source(seed: int, ids: np.ndarray) -> np.ndarray:
    """Planted near-duplicate structure: the older doc each doc copies,
    or -1. Docs with id % 10 == 1 are copies — of the previous doc on
    even tens, of a hash-chosen older doc (possibly itself a copy, so
    clusters grow past pairs) on odd tens."""
    ids = np.asarray(ids, dtype=np.int64)
    src = np.full(len(ids), -1, dtype=np.int64)
    is_copy = ids % 10 == 1
    prev = is_copy & ((ids // 10) % 2 == 0)
    src[prev] = ids[prev] - 1
    far = is_copy & ~prev
    src[far] = (hash64(seed, 40, ids[far])
                % ids[far].astype(np.uint64)).astype(np.int64)
    return src


def _base_words(seed: int, roots: np.ndarray) -> list[list[str]]:
    """Words of original (non-copy) docs, vectorised over ``roots``."""
    roots = np.asarray(roots, dtype=np.int64)
    n = _mod(hash64(seed, 41, roots), 41) + 40
    r = np.repeat(roots, n)
    pos = np.arange(len(r)) - np.repeat(np.cumsum(n) - n, n)
    common = _mod(hash64(seed, 42, r, pos), 4) == 0
    cw = _pick(COMMON, hash64(seed, 43, r, pos))
    rw = _mod(hash64(seed, 44, r, pos), RARE_VOCAB)
    flat = [c if k else f"tok{w}" for c, k, w in zip(cw, common, rw)]
    cuts = np.cumsum(n)
    return [flat[a:b] for a, b in zip(cuts - n, cuts)]


def doc_texts(seed: int, ids: np.ndarray) -> list[str]:
    """Text of each doc id: a copy takes its source's words and
    replaces one interior word (position 5..24) with a token no other
    doc has."""
    ids = np.asarray(ids, dtype=np.int64)
    need, todo = set(), set(int(i) for i in ids)
    while todo:  # close over copy sources (always older ids)
        need |= todo
        arr = np.array(sorted(todo), dtype=np.int64)
        todo = {int(x) for x in copy_source(seed, arr) if x >= 0} - need
    arr = np.array(sorted(need), dtype=np.int64)
    src = copy_source(seed, arr)
    words = dict(zip(arr[src < 0].tolist(), _base_words(seed, arr[src < 0])))
    copies = arr[src >= 0]
    mut = _mod(hash64(seed, 45, copies), 20) + 5
    for i, s, p in zip(copies.tolist(), src[src >= 0].tolist(), mut.tolist()):
        w = list(words[s])
        w[p] = f"mut{i}"
        words[i] = w
    return [" ".join(words[i]) for i in ids.tolist()]


def write_documents(path: str, seed: int, ids: np.ndarray) -> None:
    texts = doc_texts(seed, ids)
    _write({"doc_id": np.asarray(ids, dtype=np.int64),
            "text": texts,
            "lang": _pick(("en", "de", "fr", "zh"), hash64(seed, 46, ids)),
            "source": [f"src{k}" for k in _mod(hash64(seed, 47, ids), 5)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
           path)


def embedding_vectors(seed: int, n: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(ids, float32 vectors [n, DIM], labels) with planted copies."""
    ids = np.arange(n)
    labels = _mod(hash64(seed, 50, ids), 10)
    dims = np.arange(DIM)
    centres = _gauss(seed, 51, np.arange(10)[:, None], dims[None, :])
    vec = centres[labels] + 0.6 * _gauss(seed, 53, ids[:, None], dims[None, :])
    for i in ids[ids % 50 == 1]:
        src = int(hash64(seed, 55, np.array([i]))[0] % np.uint64(i))
        vec[i] = vec[src] + 0.01 * _gauss(seed, 56, np.array([i]), dims)
    return ids, vec.astype(np.float32), labels.astype(np.int32)


def write_embeddings(path: str, seed: int, n: int = N_VECS) -> None:
    ids, vec, labels = embedding_vectors(seed, n)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), DIM)
    _write({"vec_id": ids, "embedding": emb.cast(pa.list_(pa.float32())),
            "label": labels}, path)


def write_corpus_tables(out: str, seed: int) -> None:
    """Everything a plans.queries callable may read, at sf0.1 shape."""
    os.makedirs(out, exist_ok=True)
    write_star(out, seed)
    write_documents(f"{out}/documents.parquet", seed, np.arange(N_DOCS))
    write_embeddings(f"{out}/embeddings.parquet", seed)

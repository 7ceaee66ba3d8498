"""Deterministic benchmark inputs: the same seed gives the same inputs.

Three kinds of input, all written under the checkout's
``.perfbench_cache/`` and cached by (kind, scale, GEN_VERSION, seed):

* ``star_schema`` -- the ten engine tables (region nation customer
  supplier part orders lineitem events documents embeddings) with the
  column names, types and value distributions of the engine's own
  fixtures, at a given scale factor;
* ``replicate`` -- N key-offset replicas of a star schema: fact keys
  shifted by 10^9 per replica and document text Caesar-rotated per
  replica, so dedup/LSH paths see distinct corpora (the replication
  rule of ``scripts/scale_smoke.build_scaled``, frozen here);
* ``codec_objects`` / ``codec_files`` -- Python objects with mixed-size
  numpy tensor fields, plus a zip and a tar archive and TFRecord files
  built from them.

Bump ``GEN_VERSION`` whenever any generator changes what it writes, so
a stale cache is never measured.
"""

from __future__ import annotations

import io
import os
import shutil
import string
import struct
import tarfile
import time
import zipfile

import numpy as np

GEN_VERSION = 3
CACHE_DIR = ".perfbench_cache"

REPLICA_KEY_OFFSET = 10**9
DIM_TABLES = ("region", "nation", "supplier", "part")
FACT_OFFSETS = {
    "customer": ["c_custkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window join small big order data column customer "
    "query filter group stream vector"
).split()
_ADJ = ["small", "red", "blue", "hot", "cold", "old", "new", "large"]
_NOUN = ["ring", "widget", "bolt", "plate", "rod", "gear", "gizmo", "anvil"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "zh", "es", "de", "fr"]


#: Cached entries kept per input family (all seeds of one kind and
#: scale); older seeds are deleted, so the cache stays bounded.
KEEP_PER_FAMILY = 3


def _cached(root: str, family: str, seed: int, build) -> tuple[str, float]:
    """Return (dir, build_seconds) of ``family`` for ``seed``; build it
    into a temp dir and rename on success so a killed build never
    leaves a half-written cache entry behind."""
    cache = os.path.join(root, CACHE_DIR)
    out = os.path.join(cache, f"{family}_v{GEN_VERSION}__s{seed}")
    if os.path.isdir(out):
        os.utime(out)
        return out, 0.0
    tmp = f"{out}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    t0 = time.perf_counter()
    build(tmp)
    os.replace(tmp, out)
    built = time.perf_counter() - t0
    prefix = f"{family}_v{GEN_VERSION}__s"
    same = sorted((e for e in os.scandir(cache) if e.name.startswith(prefix)
                   and e.name[len(prefix):].isdigit()),
                  key=lambda e: e.stat().st_mtime, reverse=True)
    for e in same[KEEP_PER_FAMILY:]:
        shutil.rmtree(e.path, ignore_errors=True)
    return out, built


def _write(tmp: str, name: str, cols: dict) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table(cols), os.path.join(tmp, f"{name}.parquet"))


def _days(start: str, offsets: np.ndarray) -> np.ndarray:
    return (np.datetime64(start, "D") + offsets.astype("timedelta64[D]")).astype(
        "datetime64[us]"
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _build_star(tmp: str, seed: int, sf: float) -> None:
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(1, int(15_000 * sf))

    _write(tmp, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(tmp, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(tmp, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(tmp, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = np.array([f"{a} {b}" for a in _ADJ for b in _NOUN])
    _write(tmp, "part", {
        "p_partkey": pk,
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
            rng.integers(0, 25, n_part)
        ],
        "p_type": np.array(_PTYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    _write(tmp, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(tmp, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_li, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li, dtype=np.int64),
        "l_linenumber": rng.integers(1, 8, n_li, dtype=np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": _money(rng, 0.0, 0.1, n_li),
        "l_tax": _money(rng, 0.0, 0.08, n_li),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2499, n_li)),
    })
    # Events: exponential inter-arrival gaps spread over 30 days.
    gaps = rng.exponential(1.0, n_ev)
    us = np.cumsum(gaps) / gaps.sum() * (30 * 86_400 * 1e6 - 1)
    _write(tmp, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    # Documents: random word salad over a small vocabulary; about 5%
    # are near-duplicates (an earlier document plus a " dup" suffix).
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n_doc):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]))
    _write(tmp, "documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    _write(tmp, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": rng.integers(0, 10, n_emb, dtype=np.int32),
    })


def star_schema(root: str, seed: int, sf: float) -> tuple[str, float]:
    """Directory holding the ten tables at scale ``sf`` for ``seed``."""
    return _cached(root, f"star_sf{sf}", seed, lambda tmp: _build_star(tmp, seed, sf))


def _build_replicas(tmp: str, src: str, replicas: int) -> None:
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    alpha = string.ascii_lowercase
    for name in DIM_TABLES:
        shutil.copyfile(
            os.path.join(src, f"{name}.parquet"), os.path.join(tmp, f"{name}.parquet")
        )
    for name, keys in FACT_OFFSETS.items():
        base = pq.read_table(os.path.join(src, f"{name}.parquet"))
        with pq.ParquetWriter(os.path.join(tmp, f"{name}.parquet"), base.schema) as w:
            for i in range(replicas):
                t = base
                for k in keys:
                    col = t.column(k)
                    shifted = pc.add(col, pa.scalar(i * REPLICA_KEY_OFFSET, col.type))
                    t = t.set_column(t.schema.get_field_index(k), k, shifted)
                if name == "documents" and i > 0:
                    rot = str.maketrans(alpha, alpha[i % 26:] + alpha[: i % 26])
                    text = [s.translate(rot) for s in t.column("text").to_pylist()]
                    t = t.set_column(t.schema.get_field_index("text"), "text", pa.array(text))
                w.write_table(t)


def replicate(root: str, seed: int, sf: float, replicas: int) -> tuple[str, float]:
    """``replicas`` key-offset copies of ``star_schema(seed, sf)``."""
    src, src_s = star_schema(root, seed, sf)
    out, s = _cached(root, f"star_sf{sf}_x{replicas}", seed,
                     lambda tmp: _build_replicas(tmp, src, replicas))
    return out, src_s + s


# --- codec round trip -------------------------------------------------------


class Sample:
    """A training-sample-like record: scalars, a label map and numpy
    tensor fields of mixed size (small ones stay SQL arrays, big ones
    pack into one binary cell)."""

    def __init__(self, sample_id, name, weight, tags, image, embedding, mask):
        self.sample_id = sample_id
        self.name = name
        self.weight = weight
        self.tags = tags
        self.image = image
        self.embedding = embedding
        self.mask = mask


def codec_objects(seed: int, n: int) -> list[Sample]:
    """``n`` objects. ``embedding`` spans 16 B to 4 KB, so about half
    are stored unpacked and half packed; ``image`` (over 2 KB) is always
    packed and ``mask`` never."""
    rng = np.random.default_rng(seed)
    out = []
    for i in range(n):
        h, w = int(rng.integers(27, 40)), int(rng.integers(27, 40))
        out.append(Sample(
            sample_id=i,
            name=f"sample-{seed}-{i}",
            weight=float(np.round(rng.random(), 6)),
            tags={f"t{j}": int(rng.integers(0, 100)) for j in range(int(rng.integers(1, 4)))},
            image=rng.integers(0, 255, (h, w, 3), dtype=np.uint8),
            embedding=rng.standard_normal(int(rng.integers(4, 1024))).astype(np.float32),
            mask=rng.integers(0, 2, int(rng.integers(1, 16)), dtype=np.int64),
        ))
    return out


def member_payload(obj: Sample) -> bytes:
    """Archive/TFRecord payload for one object: its image bytes behind
    a short header naming it, so a reader can check both."""
    return obj.name.encode() + b"\0" + obj.image.tobytes()


def _crc32c_table() -> list[int]:
    table = []
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
        table.append(c)
    return table


def _masked_crc32c(data: bytes, table: list[int]) -> int:
    crc = 0xFFFFFFFF
    for b in data:
        crc = table[(crc ^ b) & 0xFF] ^ (crc >> 8)
    crc ^= 0xFFFFFFFF
    return (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF


def write_tfrecords(f, records: list[bytes]) -> None:
    """TFRecord framing (length, masked CRC-32C of the length, payload,
    masked CRC-32C of the payload), written here rather than with the
    engine's writer so the inputs do not depend on the code under test."""
    table = _crc32c_table()
    for rec in records:
        head = struct.pack("<Q", len(rec))
        f.write(head + struct.pack("<I", _masked_crc32c(head, table)))
        f.write(rec + struct.pack("<I", _masked_crc32c(rec, table)))


def _build_codec_files(tmp: str, seed: int, n: int, n_tfrecord_files: int) -> None:
    objs = codec_objects(seed, n)
    payloads = [member_payload(o) for o in objs]
    half = n // 2
    with zipfile.ZipFile(os.path.join(tmp, "members.zip"), "w") as z:
        for i in range(half):
            z.writestr(f"m{i:06d}.bin", payloads[i])
    with tarfile.open(os.path.join(tmp, "members.tar"), "w") as t:
        for i in range(half, n):
            info = tarfile.TarInfo(f"m{i:06d}.bin")
            info.size = len(payloads[i])
            t.addfile(info, io.BytesIO(payloads[i]))
    os.makedirs(os.path.join(tmp, "tfr"))
    for f in range(n_tfrecord_files):
        with open(os.path.join(tmp, "tfr", f"part-{f:03d}.tfrecord"), "wb") as fh:
            write_tfrecords(fh, payloads[f::n_tfrecord_files])


def codec_files(root: str, seed: int, n: int, n_tfrecord_files: int) -> tuple[str, float]:
    """Zip + tar archives (members ``m<i>.bin``) and TFRecord files
    holding ``member_payload`` of each of ``codec_objects(seed, n)``."""
    return _cached(root, f"codec_n{n}_f{n_tfrecord_files}", seed,
                   lambda tmp: _build_codec_files(tmp, seed, n, n_tfrecord_files))

"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (seed, size): the same seed writes the
same rows. Outputs are cached under ``<cache>/<workload>-seed<seed>-<size>/``
and reused when a ``_READY`` marker is present, so repeated runs of one seed
pay generation once. Generation runs in this process only; pyarrow's pool is
capped at the CPUs this process may use.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import struct
import zlib
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SONGSTREAM_SCHEMA = "user_id string, timestamp long, song_id long"


def usable_cpus() -> int:
    return len(os.sched_getaffinity(0))


def cached(cache: Path, name: str, build) -> Path:
    """Return ``cache/name``, building it with ``build(tmp_dir)`` first when
    it is not there yet. The directory appears atomically (rename of a
    finished temporary), so an interrupted build is never reused."""
    out = cache / name
    if (out / "_READY").exists():
        return out
    tmp = cache / f".{name}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    pa.set_cpu_count(usable_cpus())
    build(tmp)
    (tmp / "_READY").write_text("")
    shutil.rmtree(out, ignore_errors=True)
    tmp.rename(out)
    return out


# --- songstreams -----------------------------------------------------------

N_USERS = 100_000
ZIPF_S = 0.8  # top user ~2% of rows: skewed buckets, no single-bucket blowup
NULL_KEY_FRAC = 0.001  # half null, half empty: both take the MIN-token path
TS_BASE_US = 1_600_000_000_000_000


def _zipf_cdf(n: int, s: float) -> np.ndarray:
    w = np.arange(1, n + 1, dtype=np.float64) ** -s
    return np.cumsum(w) / w.sum()


def songstreams_table(rng: np.random.Generator, n: int) -> pa.Table:
    """(user_id, timestamp, song_id): Zipf-skewed users over a fixed
    population, ~0.1% null/empty user keys, microsecond writetimes."""
    rank = np.searchsorted(_zipf_cdf(N_USERS, ZIPF_S), rng.random(n))
    # scatter ranks over the id space so hot users are not adjacent ids
    uid = (rank * 2_654_435_761) % 1_000_000_007
    users = pc.binary_join_element_wise("user", pa.array(uid).cast(pa.string()), "")
    special = rng.random(n) < NULL_KEY_FRAC
    is_null = special & (rng.random(n) < 0.5)
    users = pc.if_else(pa.array(special & ~is_null), pa.scalar(""), users)
    users = pc.if_else(pa.array(is_null), pa.scalar(None, pa.string()), users)
    return pa.table(
        {
            "user_id": users,
            "timestamp": TS_BASE_US + rng.integers(0, 86_400_000_000, n),
            "song_id": rng.integers(0, 5_000_000, n),
        }
    )


def write_songstreams(out: Path, seed: int, rows: int, files: int) -> None:
    """``files`` parquet files of ``rows // files`` rows, one row group each."""
    for f in range(files):
        rng = np.random.default_rng([seed, 1, f])
        pq.write_table(songstreams_table(rng, rows // files), out / f"part-{f:03d}.parquet")


def write_stream_files(out: Path, seed: int, warm: int, main: int, rows: int) -> None:
    """Landed files for the streaming ingest: ``warm/`` for the warm-up
    query and ``main/`` for the measured backlog, one micro-batch each."""
    for sub, count in (("warm", warm), ("main", main)):
        (out / sub).mkdir()
        for f in range(count):
            rng = np.random.default_rng([seed, 4 if sub == "main" else 5, f])
            pq.write_table(songstreams_table(rng, rows), out / sub / f"part-{f:04d}.parquet")


# --- lineitem Avro ---------------------------------------------------------

LINEITEM_AVRO_SCHEMA = {
    "type": "record",
    "name": "lineitem",
    "fields": [
        {"name": "l_orderkey", "type": "long"},
        {"name": "l_partkey", "type": "long"},
        {"name": "l_suppkey", "type": "long"},
        {"name": "l_linenumber", "type": "int"},
        {"name": "l_quantity", "type": "double"},
        {"name": "l_extendedprice", "type": "double"},
        {"name": "l_discount", "type": "double"},
        {"name": "l_tax", "type": "double"},
        {"name": "l_returnflag", "type": "string"},
        {"name": "l_linestatus", "type": "string"},
        {"name": "l_shipdate", "type": {"type": "int", "logicalType": "date"}},
        {"name": "l_shipinstruct", "type": "string"},
        {"name": "l_shipmode", "type": "string"},
        {"name": "l_comment", "type": "string"},
    ],
}
_INSTRUCT = ["DELIVER IN PERSON", "COLLECT COD", "NONE", "TAKE BACK RETURN"]
_MODES = ["TRUCK", "MAIL", "SHIP", "AIR", "RAIL", "FOB", "REG AIR"]
_WORDS = "carefully final deposits haggle quickly ironic packages sleep blithely express".split()


def _zz(v: int) -> bytes:
    """Avro long: zigzag then little-endian base-128 varint."""
    u = (v << 1) ^ (v >> 63)
    out = bytearray()
    while u > 0x7F:
        out.append((u & 0x7F) | 0x80)
        u >>= 7
    out.append(u)
    return bytes(out)


def _str(s: str) -> bytes:
    b = s.encode()
    return _zz(len(b)) + b


def _container(path: Path, schema: dict, records: list[bytes], sync: bytes, block: int = 4096) -> None:
    """Write an Avro object container file with deflate-coded blocks."""
    meta = {"avro.schema": json.dumps(schema).encode(), "avro.codec": b"deflate"}
    with open(path, "wb") as f:
        f.write(b"Obj\x01" + _zz(len(meta)))
        for k, v in meta.items():
            f.write(_str(k) + _zz(len(v)) + v)
        f.write(_zz(0) + sync)
        for i in range(0, len(records), block):
            chunk = records[i : i + block]
            comp = zlib.compressobj(6, zlib.DEFLATED, -15)
            data = comp.compress(b"".join(chunk)) + comp.flush()
            f.write(_zz(len(chunk)) + _zz(len(data)) + data + sync)


def lineitem_rows(rng: np.random.Generator, n: int, first_row: int) -> list[tuple]:
    """Wide lineitem-shaped rows. Keys are (l_orderkey, l_linenumber) with
    1-7 lines per order; ``first_row`` shifts the key range per file so the
    composite key is unique across files."""
    lines = rng.integers(1, 8, n)
    orderkey = first_row + np.cumsum(lines == 1)
    linenumber = np.ones(n, dtype=np.int64)
    for i in range(1, n):  # running line number inside each order
        linenumber[i] = 1 if orderkey[i] != orderkey[i - 1] else linenumber[i - 1] + 1
    qty = rng.integers(1, 51, n)
    price = np.round(qty * rng.uniform(900, 2000, n), 2)
    cols = zip(
        orderkey.tolist(),
        rng.integers(1, 200_000, n).tolist(),
        rng.integers(1, 10_000, n).tolist(),
        linenumber.tolist(),
        qty.astype(float).tolist(),
        price.tolist(),
        np.round(rng.integers(0, 11, n) / 100, 2).tolist(),
        np.round(rng.integers(0, 9, n) / 100, 2).tolist(),
        rng.integers(0, 3, n).tolist(),
        rng.integers(0, 2, n).tolist(),
        rng.integers(8036, 10561, n).tolist(),
        rng.integers(0, len(_INSTRUCT), n).tolist(),
        rng.integers(0, len(_MODES), n).tolist(),
        rng.integers(0, len(_WORDS), (n, 4)).tolist(),
    )
    return list(cols)


def _encode_lineitem(r: tuple) -> bytes:
    ok, pk, sk, ln, q, p, d, t, rf, ls, sd, si, sm, cw = r
    return b"".join(
        (
            _zz(ok), _zz(pk), _zz(sk), _zz(ln),
            struct.pack("<dddd", q, p, d, t),
            _str("RAN"[rf]), _str("OF"[ls]), _zz(sd),
            _str(_INSTRUCT[si]), _str(_MODES[sm]),
            _str(" ".join(_WORDS[w] for w in cw)),
        )
    )


def write_lineitem_avro(out: Path, seed: int, rows: int, files: int) -> None:
    per = rows // files
    for f in range(files):
        rng = np.random.default_rng([seed, 2, f])
        recs = [_encode_lineitem(r) for r in lineitem_rows(rng, per, f * per)]
        _container(out / f"part-{f:03d}.avro", LINEITEM_AVRO_SCHEMA, recs, rng.bytes(16))


# --- curation corpus -------------------------------------------------------

VOCAB = [f"w{i}" for i in range(4000)]
SHARE_EXACT_DUP = 0.10
SHARE_NEAR_DUP = 0.10
SHARE_SHORT = 0.05
SHARE_BENCH_COPY = 0.02  # near-copies of benchmark docs, for the decontam gate


def is_bench_doc(doc_id: int) -> bool:
    """The catalog's benchmark-doc predicate: md5-derived 60-bit hash of
    ``bench:<doc_id>`` divisible by 20 (about 5% of ids)."""
    return int(hashlib.md5(f"bench:{doc_id}".encode()).hexdigest()[:15], 16) % 20 == 0


def curate_texts(seed: int, n: int) -> list[str]:
    """Synthetic corpus with planted structure: exact duplicates, one-word
    near-duplicates, too-short docs and near-copies of benchmark docs; the
    rest are fresh 20-120 word docs over a Zipf-ish vocabulary."""
    rng = np.random.default_rng([seed, 3])
    cdf = np.cumsum(1.0 / np.arange(1, len(VOCAB) + 1) ** 0.7)
    cdf /= cdf[-1]
    vocab = np.array(VOCAB)

    def draw(k: int) -> str:
        return " ".join(vocab[np.searchsorted(cdf, rng.random(k))])

    kinds = rng.random(n)
    edges = np.cumsum([SHARE_EXACT_DUP, SHARE_NEAR_DUP, SHARE_SHORT, SHARE_BENCH_COPY])
    texts: list[str] = []
    bench_ids: list[int] = []
    for i in range(n):
        k = kinds[i]
        if i >= 20 and k < edges[0]:
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 20 and k < edges[1]:
            words = texts[int(rng.integers(0, i))].split(" ")
            words[int(rng.integers(0, len(words)))] = f"nd{i}"
            texts.append(" ".join(words))
        elif k < edges[2]:
            texts.append(draw(int(rng.integers(1, 5))))
        elif bench_ids and k < edges[3]:
            words = texts[bench_ids[int(rng.integers(0, len(bench_ids)))]].split(" ")
            words[int(rng.integers(0, len(words)))] = f"bc{i}"
            texts.append(" ".join(words))
        else:
            texts.append(draw(int(rng.integers(20, 121))))
        if is_bench_doc(i) and len(texts[i].split(" ")) >= 20:
            bench_ids.append(i)
    return texts


def write_curate_docs(out: Path, seed: int, docs: int) -> None:
    """``documents.parquet`` in the fixture layout curate_corpus loads."""
    texts = curate_texts(seed, docs)
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(docs, dtype=np.int64)),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * docs),
            "source": pa.array([f"src{i % 7}" for i in range(docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    (out / "documents.parquet").mkdir()
    files = 4
    step = -(-docs // files)
    for f in range(files):
        pq.write_table(table.slice(f * step, step), out / "documents.parquet" / f"part-{f}.parquet")

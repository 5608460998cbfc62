"""Output checks for the benchmark's timed operations.

Each check returns a list of failure messages (empty = pass) and reads only
the files the program wrote plus the generator's own inputs. The token check
recomputes tokens with the scalar golden Murmur3 (``functions/murmur3.py``)
and buckets with exact Python big-int ring arithmetic, independent of the
program's vectorised token UDF and its int64 bucket expression.
"""

from __future__ import annotations

import random
import struct
from collections.abc import Callable
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MIN_TOKEN = -(2**63)
RING = 2**64
BUCKET_SEED = 42  # the pipeline's pinned bucket -> partition shuffle seed


def bucket_files(sink: Path) -> dict[int, list[Path]]:
    """``bucket=N/*.parquet`` files of a simulated-SSTable sink."""
    out: dict[int, list[Path]] = {}
    for d in sorted(sink.glob("bucket=*")):
        out[int(d.name.split("=", 1)[1])] = sorted(d.glob("*.parquet"))
    return out


def sink_bytes(sink: Path) -> int:
    return sum(f.stat().st_size for fs in bucket_files(sink).values() for f in fs)


def ring_bucket(token: int, n: int) -> int:
    """Ring range owning ``token`` (ceil-sized ranges from MIN_TOKEN), then
    the pinned bucket -> partition permutation."""
    per = -(-RING // n)
    perm = list(range(n))
    random.Random(BUCKET_SEED).shuffle(perm)
    return perm[(token - MIN_TOKEN) // per]


def check_written(sink: Path) -> list[str]:
    """The sink directory is cleared before every operation, so its commit
    marker shows that this operation wrote it."""
    return [] if (sink / "_SUCCESS").is_file() else [f"{sink.name}: no _SUCCESS marker, the write did not commit"]


def check_sink(sink: Path, expected_rows: int) -> tuple[list[str], dict]:
    """Row count and per-file token order. Returns (failures, stats) where
    stats carries files, bytes and rows per bucket."""
    fails: list[str] = []
    per_bucket: dict[int, int] = {}
    files = 0
    for b, paths in bucket_files(sink).items():
        for p in paths:
            tok = pq.read_table(p, columns=["token"]).column("token").to_numpy()
            files += 1
            per_bucket[b] = per_bucket.get(b, 0) + len(tok)
            if len(tok) > 1 and not bool(np.all(tok[1:] >= tok[:-1])):
                fails.append(f"{p.parent.name}/{p.name}: tokens not sorted")
    rows = sum(per_bucket.values())
    if rows != expected_rows:
        fails.append(f"sink holds {rows} rows, input has {expected_rows}")
    return fails, {"files": files, "bytes": sink_bytes(sink), "rows_per_bucket": per_bucket}


def check_token_sample(
    sink: Path,
    n_buckets: int,
    key_columns: list[str],
    encode_key: Callable[[dict], bytes],
    seed: int,
    sample: int = 1000,
) -> list[str]:
    """A seeded sample of sink rows: token == golden token of the key bytes
    rebuilt from the row's key columns, and the row's bucket directory ==
    the exact ring bucket of that token."""
    from hdfs2cass_spark.functions.murmur3 import cassandra_token

    parts = []
    for b, paths in bucket_files(sink).items():
        for p in paths:
            t = pq.read_table(p, columns=key_columns + ["token"])
            parts.append(t.append_column("bucket", pa.array(np.full(t.num_rows, b, np.int32))))
    if not parts:
        return ["sink is empty"]
    table = pa.concat_tables(parts)
    rng = np.random.default_rng([seed, 7])
    idx = rng.choice(table.num_rows, min(sample, table.num_rows), replace=False)
    fails = []
    for row in table.take(pa.array(idx)).to_pylist():
        want = cassandra_token(encode_key(row))
        if row["token"] != want:
            fails.append(f"key {[row[c] for c in key_columns]}: token {row['token']} != golden {want}")
        elif row["bucket"] != ring_bucket(want, n_buckets):
            fails.append(f"token {want}: bucket {row['bucket']} != ring {ring_bucket(want, n_buckets)}")
    return fails[:10]


def songstream_key(row: dict) -> bytes:
    """A string rowkey's bytes; NULL encodes as the empty buffer."""
    return (row["user_id"] or "").encode()


def lineitem_key(row: dict) -> bytes:
    """Composite (bigint, int) key: per component a 2-byte length, the
    big-endian value, then 0x00."""
    ok = struct.pack(">q", row["l_orderkey"])
    ln = struct.pack(">i", row["l_linenumber"])
    return b"".join(struct.pack(">H", len(c)) + c + b"\x00" for c in (ok, ln))


def bucket_multisets_equal(sink: Path, reference: Path, columns: list[str]) -> list[str]:
    """Every bucket holds the same multiset of ``columns`` rows in both sinks."""
    a, b = bucket_files(sink), bucket_files(reference)
    if sorted(a) != sorted(b):
        return [f"bucket sets differ: {sorted(set(a) ^ set(b))}"]
    fails = []
    for k in a:
        ta = pa.concat_tables([pq.read_table(p, columns=columns) for p in a[k]])
        tb = pa.concat_tables([pq.read_table(p, columns=columns) for p in b[k]])
        order = [(c, "ascending") for c in columns]
        if not ta.sort_by(order).equals(tb.sort_by(order)):
            fails.append(f"bucket={k}: rows differ from the batch bulk_load ({ta.num_rows} vs {tb.num_rows})")
    return fails


def check_curated(out: pa.Table, texts: list[str], is_bench: Callable[[int], bool], min_words: int, pack_budget: int) -> list[str]:
    """Planted-structure invariants of a curate_corpus output
    (doc_id, n_tokens, start_offset, seq_id)."""
    fails = []
    t = out.sort_by("doc_id").to_pydict()
    ids = t["doc_id"]
    if not ids:
        return ["curated corpus is empty"]
    kept = [texts[i] for i in ids]
    if len(set(kept)) != len(kept):
        fails.append(f"{len(kept) - len(set(kept))} exact-duplicate texts survived")
    short = [i for i in ids if len(texts[i].split(" ")) < min_words]
    if short:
        fails.append(f"{len(short)} too-short docs survived, e.g. {short[:3]}")
    bench = [i for i in ids if is_bench(i)]
    if bench:
        fails.append(f"{len(bench)} benchmark docs survived, e.g. {bench[:3]}")
    off = 0
    for i, n, s, q in zip(ids, t["n_tokens"], t["start_offset"], t["seq_id"]):
        if n != len(texts[i].split(" ")):
            fails.append(f"doc {i}: n_tokens {n} != word count {len(texts[i].split(' '))}")
            break
        if s != off or q != off // pack_budget:
            fails.append(f"doc {i}: start_offset {s}/seq_id {q}, want {off}/{off // pack_budget}")
            break
        off += n
    return fails

"""Each output check accepts a correct output and rejects a planted fault:
an unsorted bucket file, one wrong token, a dropped row, a stream bucket
that differs from its batch twin, and surviving planted curation junk."""

import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import checks
import gen
from hdfs2cass_spark.functions.murmur3 import cassandra_token

N_BUCKETS = 4


def write_sink(path, users):
    """A correct simulated-SSTable sink: rows grouped into their ring
    buckets, token-sorted, two files per bucket."""
    rows = [(u, cassandra_token((u or "").encode())) for u in users]
    by_bucket = {}
    for u, t in rows:
        by_bucket.setdefault(checks.ring_bucket(t, N_BUCKETS), []).append((t, u))
    for b, items in by_bucket.items():
        items.sort(key=lambda r: (r[0], r[1] or ""))
        d = path / f"bucket={b}"
        d.mkdir(parents=True)
        half = len(items) // 2
        for i, part in enumerate((items[:half], items[half:])):
            pq.write_table(
                pa.table({"user_id": pa.array([u for _, u in part], pa.string()),
                          "token": pa.array([t for t, _ in part], pa.int64())}),
                d / f"part-{i}.parquet",
            )
    return path


@pytest.fixture
def users():
    return [f"user{i}" for i in range(400)] + ["", None]


@pytest.fixture
def sink(tmp_path, users):
    return write_sink(tmp_path / "sink", users)


def token_check(sink):
    return checks.check_token_sample(sink, N_BUCKETS, ["user_id"], checks.songstream_key, seed=1, sample=10_000)


def rewrite(path, fn):
    t = pq.read_table(path)
    pq.write_table(fn(t), path)


def test_correct_sink_passes(sink, users):
    fails, stats = checks.check_sink(sink, len(users))
    assert fails == []
    assert sum(stats["rows_per_bucket"].values()) == len(users)
    assert stats["files"] == 2 * N_BUCKETS and stats["bytes"] > 0
    assert token_check(sink) == []


def test_unsorted_bucket_file_is_rejected(sink, users):
    f = sorted(sink.glob("bucket=*/*.parquet"))[0]
    rewrite(f, lambda t: t.take(pa.array(np.arange(t.num_rows)[::-1])))
    fails, _ = checks.check_sink(sink, len(users))
    assert any("not sorted" in m for m in fails)


def test_wrong_token_is_rejected(sink):
    f = sorted(sink.glob("bucket=*/*.parquet"))[0]

    def bump_last(t):
        tok = t.column("token").to_pylist()
        tok[-1] += 1  # still sorted, so only the golden comparison can see it
        return t.set_column(1, "token", pa.array(tok, pa.int64()))

    rewrite(f, bump_last)
    assert any("golden" in m for m in token_check(sink))


def test_wrong_bucket_is_rejected(sink):
    src = sorted(sink.glob("bucket=0/*.parquet"))[0]
    shutil.move(src, sink / "bucket=1" / "moved.parquet")
    assert any("ring" in m for m in token_check(sink))


def test_dropped_row_is_rejected(sink, users):
    rewrite(sorted(sink.glob("bucket=*/*.parquet"))[0], lambda t: t.slice(1))
    fails, _ = checks.check_sink(sink, len(users))
    assert any("rows" in m for m in fails)


def test_uncommitted_sink_is_rejected(sink):
    assert checks.check_written(sink) == ["sink: no _SUCCESS marker, the write did not commit"]
    (sink / "_SUCCESS").write_text("")
    assert checks.check_written(sink) == []


def test_stream_buckets_must_match_batch_twin(tmp_path, users):
    a = write_sink(tmp_path / "a", users)
    b = write_sink(tmp_path / "b", users)
    assert checks.bucket_multisets_equal(a, b, ["token", "user_id"]) == []
    rewrite(sorted(b.glob("bucket=*/*.parquet"))[0], lambda t: t.slice(1))
    assert checks.bucket_multisets_equal(a, b, ["token", "user_id"]) != []


def test_composite_key_encoding():
    # CassandraRecordUtils composite layout: [len][bytes][0x00] per component
    key = checks.lineitem_key({"l_orderkey": 1, "l_linenumber": 2})
    assert key == b"\x00\x08" + (1).to_bytes(8, "big") + b"\x00" + b"\x00\x04" + (2).to_bytes(4, "big") + b"\x00"


def test_ring_bucket_edges():
    per = -(-checks.RING // 16)
    perm = list(range(16))
    import random

    random.Random(checks.BUCKET_SEED).shuffle(perm)
    assert checks.ring_bucket(checks.MIN_TOKEN, 16) == perm[0]
    assert checks.ring_bucket(checks.MIN_TOKEN + per - 1, 16) == perm[0]
    assert checks.ring_bucket(checks.MIN_TOKEN + per, 16) == perm[1]
    assert checks.ring_bucket(2**63 - 1, 16) == perm[15]


# --- curation invariants ----------------------------------------------------

TEXTS = [
    "alpha beta gamma delta epsilon zeta",  # 0
    "alpha beta gamma delta epsilon zeta",  # 1: exact duplicate of 0
    "too short",  # 2
    "one two three four five six seven",  # 3
    "eta theta iota kappa lambda mu",  # 4
]


def curated(ids):
    n = [len(TEXTS[i].split(" ")) for i in ids]
    off = np.concatenate([[0], np.cumsum(n)[:-1]]).tolist()
    return pa.table({"doc_id": ids, "n_tokens": n, "start_offset": off, "seq_id": [o // 4 for o in off]})


def curate_check(table, bench=()):
    return checks.check_curated(table, TEXTS, lambda i: i in bench, min_words=5, pack_budget=4)


def test_curated_output_passes():
    assert curate_check(curated([0, 3, 4])) == []


def test_surviving_exact_duplicate_is_rejected():
    assert any("exact-duplicate" in m for m in curate_check(curated([0, 1, 3])))


def test_surviving_short_or_benchmark_doc_is_rejected():
    assert any("too-short" in m for m in curate_check(curated([0, 2])))
    assert any("benchmark" in m for m in curate_check(curated([0, 3]), bench={3}))


def test_wrong_prefix_sum_is_rejected():
    t = curated([0, 3, 4])
    bad = t.set_column(2, "start_offset", pa.array([0, 6, 12]))
    assert any("start_offset" in m for m in curate_check(bad))
    bad = t.set_column(1, "n_tokens", pa.array([6, 8, 6]))
    assert any("n_tokens" in m for m in curate_check(bad))


# --- generators ---------------------------------------------------------------


def test_generators_are_seeded(tmp_path):
    for seed in (1, 2):
        for rep in ("a", "b"):
            d = tmp_path / f"{seed}{rep}"
            d.mkdir()
            gen.write_songstreams(d, seed, 4000, 2)
    same = [pq.read_table(tmp_path / f"1{r}" / "part-001.parquet") for r in "ab"]
    assert same[0].equals(same[1])
    assert not same[0].equals(pq.read_table(tmp_path / "2a" / "part-001.parquet"))
    users = pq.read_table(tmp_path / "1a").column("user_id")
    assert 0 < users.null_count < 40


def test_avro_generator_round_trips_through_the_program_decoder(tmp_path):
    from hdfs2cass_spark.sources import avrodec

    gen.write_lineitem_avro(tmp_path, seed=3, rows=2000, files=2)
    got = [r for p in sorted(tmp_path.glob("*.avro")) for r in avrodec.iter_records(str(p))]
    want = gen.lineitem_rows(np.random.default_rng([3, 2, 0]), 1000, 0)
    assert len(got) == 2000
    assert (got[0]["l_orderkey"], got[0]["l_linenumber"]) == (want[0][0], want[0][3])
    assert got[999]["l_comment"] == " ".join(gen._WORDS[w] for w in want[999][13])
    keys = {(r["l_orderkey"], r["l_linenumber"]) for r in got}
    assert len(keys) == 2000  # composite key unique across files


def test_curate_corpus_plants_its_shares():
    texts = gen.curate_texts(seed=5, n=4000)
    assert len(texts) == 4000
    dup_share = 1 - len(set(texts)) / len(texts)
    assert 0.07 < dup_share < 0.13
    short = sum(len(t.split(" ")) < 5 for t in texts) / len(texts)
    assert 0.03 < short < 0.08
    assert gen.curate_texts(seed=5, n=4000) == texts

"""Golden-value tests for the Cassandra Murmur3 token function.

Constants come from the reference's own tests
(/root/reference/src/test/java/com/spotify/hdfs2cass/cassandra/utils/CassandraKeyComparatorTest.java:53-67).
"""

from hdfs2cass_spark.functions.murmur3 import (
    MAX_TOKEN,
    MIN_TOKEN,
    cassandra_token,
    murmur3_x64_128,
)

GOLDENS = {
    b"foo": -2129773440516405919,
    b"bar": -7911037993560119804,
    b"baz": 8295379539955784970,
}


def test_golden_tokens():
    for key, tok in GOLDENS.items():
        assert cassandra_token(key) == tok


def test_empty_key_is_min_token():
    # CassandraKeyComparatorTest.java:64-66: empty key sorts before everything
    assert cassandra_token(b"") == MIN_TOKEN
    assert cassandra_token(None) == MIN_TOKEN


def test_expected_sort_order():
    # expected decorated order: "" < bar < foo < baz
    keys = [b"baz", b"foo", b"", b"bar"]
    assert sorted(keys, key=cassandra_token) == [b"", b"bar", b"foo", b"baz"]


def test_str_and_bytes_agree():
    assert cassandra_token("foo") == cassandra_token(b"foo")


def test_token_range():
    for k in [b"a", b"abcdefghijklmnop", b"abcdefghijklmnopq", bytes(range(256))]:
        assert MIN_TOKEN < cassandra_token(k) <= MAX_TOKEN


def test_long_keys_and_tails():
    # exercise block path (>=16B), 8<tail<16, and high-bit (signed-tail) bytes;
    # values are self-consistency checks (stable across runs/platforms)
    assert murmur3_x64_128(b"the quick brown fox jumps over the lazy dog")[0] == (
        -4835482818955082061
    )
    assert cassandra_token(bytes(range(200, 230))) == -1961898924875430197


def _jvm_tokens(spark, keys, dtype="binary"):
    """Tokens of `keys` computed by with_token on one DataFrame; the plan is
    map-only, so rows come back in key order."""
    from hdfs2cass_spark.operators.partitioning import with_token

    df = spark.createDataFrame([(k,) for k in keys], f"k {dtype}")
    return [r.token for r in with_token(df, "k").select("token").collect()]


def test_jvm_token_goldens_and_empty_keys(spark):
    keys = list(GOLDENS) + [b"", None]
    assert _jvm_tokens(spark, keys) == list(GOLDENS.values()) + [MIN_TOKEN, MIN_TOKEN]


def test_jvm_token_every_tail_length_with_signed_bytes(spark):
    """Lengths 0-47 cover every tail length over zero to two full blocks; bytes
    >= 0x80 exercise Cassandra's sign-extended tail."""
    keys = [bytes(0x80 + (i * 7 + n) % 128 for i in range(n)) for n in range(48)]
    assert _jvm_tokens(spark, keys) == [cassandra_token(k) for k in keys]


def test_jvm_token_matches_scalar_on_random_keys(spark):
    """Differential: the JVM function == scalar spec on 20k seeded random
    binary keys of 0-200 bytes covering empty/None, high-bit bytes, all tail
    lengths and multi-block keys."""
    import random

    rnd = random.Random(1234)
    keys = [rnd.randbytes(rnd.randrange(201)) for _ in range(20_000)]
    keys += [b"", None, b"foo", b"x" * 16, b"y" * 17, b"z" * 1000]
    got = _jvm_tokens(spark, keys)
    assert sum(g != cassandra_token(k) for g, k in zip(got, keys)) == 0


def test_jvm_token_string_and_binary_keys_agree(spark):
    keys = ["foo", "", None, "ünïcödé", "a" * 40]
    as_bytes = [None if k is None else k.encode("utf-8") for k in keys]
    as_str = _jvm_tokens(spark, keys, "string")
    assert as_str == _jvm_tokens(spark, as_bytes)
    assert as_str[0] == GOLDENS[b"foo"]


def test_jvm_token_survives_session_restart(tmp_path):
    """The function is registered per session: a new session after
    spark.stop() in the same process must register it again, not fail."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    script = tmp_path / "restart.py"
    script.write_text(
        "from hdfs2cass_spark.operators.partitioning import with_token\n"
        "from hdfs2cass_spark.session import get_session\n"
        "for run in range(2):\n"
        "    spark = get_session(f'restart{run}', master='local[1]', shuffle_partitions=1)\n"
        "    df = spark.createDataFrame([('foo',)], 'k string')\n"
        "    print(with_token(df, 'k').first().token)\n"
        "    spark.stop()\n"
    )
    repo = str(Path(__file__).resolve().parents[1])
    env = dict(os.environ, PYTHONPATH=repo, SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run(
        [sys.executable, str(script)], capture_output=True, text=True, env=env, timeout=300
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == [str(GOLDENS[b"foo"])] * 2


def test_build_jar_reuses_cached_jar(tmp_path, monkeypatch):
    import subprocess

    from hdfs2cass_spark.functions import murmur3_jvm

    jar = murmur3_jvm.build_jar(cache_dir=str(tmp_path))
    assert jar.is_file() and jar.parent == tmp_path

    def no_javac(*a, **k):
        raise AssertionError("javac ran although the cached jar matches the source")

    monkeypatch.setattr(subprocess, "run", no_javac)
    assert murmur3_jvm.build_jar(cache_dir=str(tmp_path)) == jar
    assert [p.name for p in tmp_path.iterdir()] == [jar.name]  # no leftover parts


def test_build_jar_without_javac_fails_loudly(tmp_path, monkeypatch):
    import shutil

    import pytest

    from hdfs2cass_spark.functions import murmur3_jvm

    monkeypatch.setattr(shutil, "which", lambda name: None)
    with pytest.raises(RuntimeError, match="javac"):
        murmur3_jvm.build_jar(cache_dir=str(tmp_path))


def _plant_jar(cache, mode=0o644):
    """A jar named as the build would name it, holding no classes."""
    import hashlib

    from hdfs2cass_spark.functions import murmur3_jvm

    digest = hashlib.sha256(murmur3_jvm.SOURCE.read_bytes()).hexdigest()[:16]
    jar = cache / f"hdfs2cass-murmur3-{digest}.jar"
    jar.write_bytes(b"planted")
    jar.chmod(mode)
    return jar


def test_build_jar_rebuilds_jar_others_can_write(tmp_path):
    """ADD JAR runs the cached jar's classes on every executor: a jar that
    group or others could have replaced is never trusted."""
    from hdfs2cass_spark.functions import murmur3_jvm

    planted = _plant_jar(tmp_path, mode=0o666)
    jar = murmur3_jvm.build_jar(cache_dir=str(tmp_path))
    assert jar == planted and jar.read_bytes() != b"planted"
    assert not jar.stat().st_mode & 0o022


def test_build_jar_rebuilds_jar_user_does_not_own(tmp_path):
    import os

    import pytest

    from hdfs2cass_spark.functions import murmur3_jvm

    if os.geteuid() != 0:
        pytest.skip("handing a file to another user needs root")
    planted = _plant_jar(tmp_path)
    os.chown(planted, 65534, 65534)
    jar = murmur3_jvm.build_jar(cache_dir=str(tmp_path))
    assert jar.read_bytes() != b"planted" and jar.stat().st_uid == os.getuid()


def test_build_jar_skips_cache_dir_user_does_not_own(tmp_path, monkeypatch):
    """A cache dir owned by someone else (here: the real owner, seen from
    another uid) is not used at all; the jar is built in a fresh private dir."""
    import os
    import shutil

    from hdfs2cass_spark.functions import murmur3_jvm

    _plant_jar(tmp_path)
    monkeypatch.setattr(os, "getuid", lambda: os.geteuid() + 1)
    jar = murmur3_jvm.build_jar(cache_dir=str(tmp_path))
    try:
        assert jar.parent != tmp_path and jar.read_bytes() != b"planted"
        assert jar.parent.stat().st_mode & 0o777 == 0o700
    finally:
        shutil.rmtree(jar.parent)


def test_default_cache_dir_is_private_per_user(tmp_path, monkeypatch):
    import os
    import tempfile

    from hdfs2cass_spark.functions import murmur3_jvm

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    d = murmur3_jvm._cache_dir(None)
    assert d == tmp_path / f"hdfs2cass-{os.getuid()}"
    assert d.stat().st_mode & 0o777 == 0o700 and d.stat().st_uid == os.getuid()

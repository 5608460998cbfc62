package hdfs2cass_spark.functions;

import org.apache.spark.sql.api.java.UDF1;

/**
 * Cassandra Murmur3Partitioner token of a partition-key byte string, run in the
 * JVM. Same contract as the Python spec functions/murmur3.py: MurmurHash3 x64
 * 128 with seed 0, first 64-bit half, tail bytes sign-extended (Java's
 * (long) byte), empty or null key to Long.MIN_VALUE, a raw Long.MIN_VALUE
 * hash to Long.MAX_VALUE.
 */
public final class CassandraMurmur3 implements UDF1<byte[], Long> {
  private static final long C1 = 0x87c37b91114253d5L;
  private static final long C2 = 0x4cf5ad432745937fL;

  @Override
  public Long call(byte[] key) {
    if (key == null || key.length == 0) return Long.MIN_VALUE;
    int n = key.length, blocks = n >>> 4, tail = blocks << 4;
    long h1 = 0, h2 = 0;
    for (int off = 0; off < tail; off += 16) {
      h1 ^= Long.rotateLeft(le64(key, off) * C1, 31) * C2;
      h1 = (Long.rotateLeft(h1, 27) + h2) * 5 + 0x52dce729;
      h2 ^= Long.rotateLeft(le64(key, off + 8) * C2, 33) * C1;
      h2 = (Long.rotateLeft(h2, 31) + h1) * 5 + 0x38495ab5;
    }
    long k1 = 0, k2 = 0;
    for (int i = n - tail - 1; i >= 8; i--) k2 ^= ((long) key[tail + i]) << ((i - 8) * 8);
    if (n - tail > 8) h2 ^= Long.rotateLeft(k2 * C2, 33) * C1;
    for (int i = Math.min(n - tail, 8) - 1; i >= 0; i--) k1 ^= ((long) key[tail + i]) << (i * 8);
    if (n - tail > 0) h1 ^= Long.rotateLeft(k1 * C1, 31) * C2;
    h1 ^= n;
    h2 ^= n;
    h1 += h2;
    h2 += h1;
    h1 = fmix(h1) + fmix(h2);
    return h1 == Long.MIN_VALUE ? Long.MAX_VALUE : h1;
  }

  private static long le64(byte[] b, int off) {
    long v = 0;
    for (int i = 7; i >= 0; i--) v = (v << 8) | (b[off + i] & 0xffL);
    return v;
  }

  private static long fmix(long k) {
    k = (k ^ (k >>> 33)) * 0xff51afd7ed558ccdL;
    k = (k ^ (k >>> 33)) * 0xc4ceb9fe1a85ec53L;
    return k ^ (k >>> 33);
  }
}

package graft.operators

import graft.SparkSpec
import graft.sources.StoreKernel

/** The persisted-store kernel ([[StoreKernel]]) under both indexed
  * stores: its meta read's failure classes and the on-disk token
  * format (byte goldens, so a store stamped by an earlier build keeps
  * its zero-job fast path). */
class StoreKernelSpec extends SparkSpec {

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a meta read interrupted on an existing meta propagates the " +
    "interrupt instead of reading as an absent store (which rebuilds)") {
    val dir = tempDir("kernel_meta")
    StoreKernel.writeMeta(spark, dir, LexIndexMeta(1, 5L, 7L, 32, 9L))
    assert(StoreKernel.readMeta[LexIndexMeta](spark, dir, "test")
      .contains(LexIndexMeta(1, 5L, 7L, 32, 9L)))
    try {
      intercept[InterruptedException] {
        StoreKernel.readPromotedMeta(spark, s"$dir/meta", "test")(
          throw new InterruptedException("interrupted meta read"))
      }
    } finally Thread.interrupted()
    // a non-fatal read failure still reads as absent after the retries
    assert(StoreKernel.readPromotedMeta(spark, s"$dir/meta", "test")(
      throw new IllegalStateException("torn meta")).isEmpty)
  }

  // the token lines the stores wrote before the kernel, spelled out:
  // digest | meta fields in declaration order | tombN | tombXor
  private val ann = AnnIndexMeta(3, 500L, -8070450532247928832L, 16,
    0.1 + 0.2, 20L, 8, 16, 10, 8, 1.0e-7)
  private val annLine = "ab12|3|500|-8070450532247928832|16|" +
    "0.30000000000000004|20|8|16|10|8|1.0E-7|3|-1234567890123"
  private val lex = LexIndexMeta(1, 470L, 4611686018427387904L, 32, 9001L)
  private val lexLine =
    "cd34|1|470|4611686018427387904|32|9001|30|-77"

  test("token lines are byte-identical to the pre-kernel ANN and " +
    "lexical formats, and parse back through each store's parser") {
    assert(StoreKernel.tokenLine("ab12", ann, 3L, -1234567890123L) ==
      annLine)
    assert(StoreKernel.tokenLine("cd34", lex, 30L, -77L) == lexLine)
    val annStore = IndexStore.kernelStore(sfDir, tempDir("kernel_ann"))
    val lexStore = LexIndex.kernelStore(spark, sfDir, tempDir("kernel_lex"))
    StoreKernel.stamp(spark, annStore, ann, 3L, -1234567890123L)
    StoreKernel.stamp(spark, lexStore, lex, 30L, -77L)
    val annDigest = StoreKernel.digest(spark, annStore)
    val lexDigest = StoreKernel.digest(spark, lexStore)
    def onDisk(dir: String): String = new String(java.nio.file.Files
      .readAllBytes(java.nio.file.Paths.get(dir, "vtoken")), "UTF-8")
    assert(onDisk(annStore.dir) == annDigest + annLine.stripPrefix("ab12"))
    assert(onDisk(lexStore.dir) == lexDigest + lexLine.stripPrefix("cd34"))
    assert(StoreKernel.readToken(spark, annStore) ==
      Some(StoreKernel.Token(annDigest, ann, 3L, -1234567890123L)))
    assert(StoreKernel.readToken(spark, lexStore) ==
      Some(StoreKernel.Token(lexDigest, lex, 30L, -77L)))
    // a line with one field too many or too few is no token
    java.nio.file.Files.write(java.nio.file.Paths.get(lexStore.dir,
      "vtoken"), "cd34|1|470|4611686018427387904|32|9001|5|30|-77"
      .getBytes("UTF-8"))
    assert(StoreKernel.readToken(spark, lexStore).isEmpty)
    java.nio.file.Files.write(java.nio.file.Paths.get(lexStore.dir,
      "vtoken"), "cd34|1|470|4611686018427387904|32|30|-77"
      .getBytes("UTF-8"))
    assert(StoreKernel.readToken(spark, lexStore).isEmpty)
  }
}

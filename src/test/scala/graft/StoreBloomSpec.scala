package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import graft.store.{IcebergLikeTable, StoreTestAccess}

/** Parquet key bloom filters (`keyBloomNdv`): the point-lookup pruning
  * dimension min/max stats cannot provide — a delta file is one
  * batch-sized row group whose key range spans the whole space, so only
  * a bloom can prove "key not here" before reading it. Asserted at the
  * parquet layer (footer bloom presence, hash hit/miss, row-group
  * filtering with an in-range absent key) and at the store layer
  * (lookup/read equality bloom vs no-bloom).
  */
class StoreBloomSpec extends SparkSpec {
  import spark.implicits._
  private implicit def sp: SparkSession = spark

  private val schema = org.apache.spark.sql.types.StructType.fromDDL(
    "conv_id string, v bigint")

  private def mkTable(bloom: Option[Long], maxDeltas: Int = 1000) =
    new IcebergLikeTable(tmpDir("graft-bloom") + "/t", 4,
      inlineCompaction = false, maxDeltasPerBucket = maxDeltas,
      emptySchema = schema, keyBloomNdv = bloom)

  // keys conv-0..conv-N: "conv-55x" sorts INSIDE [min, max] (between
  // conv-55 and conv-56), so min/max stats can never exclude it — any
  // observed row-group skip below is the bloom's alone
  private def batch(ids: Seq[Int]) =
    ids.map(i => (s"conv-$i", i.toLong)).toDF("conv_id", "v")
  private val AbsentInRange = "conv-55x"

  private def deltaFiles(t: IcebergLikeTable): Seq[String] = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(t.root, "data"))
    try walk.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        p.toString.endsWith(".parquet"))
      .map(_.toString).toSeq.sorted
    finally walk.close()
  }

  private def withReader[A](file: String,
      filter: Option[FilterCompat.Filter])(body: ParquetFileReader => A): A = {
    val conf = spark.sparkContext.hadoopConfiguration
    val in = HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(file), conf)
    val b0: org.apache.parquet.ParquetReadOptions.Builder =
      org.apache.parquet.HadoopReadOptions.builder(conf)
    val opts = filter.fold(b0)(f =>
      b0.withRecordFilter(f).useBloomFilter(true).useStatsFilter(true)).build()
    val r = ParquetFileReader.open(in, opts)
    try body(r) finally r.close()
  }

  private def keyEq(key: String): FilterCompat.Filter =
    FilterCompat.get(FilterApi.eq(
      FilterApi.binaryColumn("conv_id"), Binary.fromString(key)))

  test("delta files carry a key bloom: present keys hit, absent keys miss") {
    val t = mkTable(Some(1000L))
    t.merge(batch(0 until 200), "conv_id", 0L)
    val files = deltaFiles(t)
    assert(files.nonEmpty)
    files.foreach { f =>
      // the file's own keys must all hit; in-range absent probes must
      // overwhelmingly miss (fpp ~1% at this fill)
      val present = spark.read.parquet(f).select("conv_id")
        .as[String].collect()
      withReader(f, None) { r =>
        val block = r.getFooter.getBlocks.get(0)
        val cc = block.getColumns.asScala
          .find(_.getPath.toDotString == "conv_id").get
        val bf = r.getBloomFilterDataReader(block).readBloomFilter(cc)
        assert(bf != null, s"no bloom in $f")
        present.foreach { k =>
          assert(bf.findHash(bf.hash(Binary.fromString(k))), s"present $k missed")
        }
        val falsePos = (0 until 200).count { i =>
          bf.findHash(bf.hash(Binary.fromString(s"conv-${i}x")))
        }
        assert(falsePos < 20, s"bloom useless: $falsePos/200 false positives")
      }
    }
  }

  test("bloom excludes the row group for an in-range absent key; stats alone cannot") {
    val bloomed = mkTable(Some(1000L))
    val plain = mkTable(None)
    Seq(bloomed, plain).foreach(_.merge(batch(0 until 200), "conv_id", 0L))
    def rowGroups(t: IcebergLikeTable, key: String): Int =
      deltaFiles(t).map(f =>
        withReader(f, Some(keyEq(key)))(_.getRowGroups.size)).sum
    // absent but inside every file's [min,max]: only the bloom can skip
    assert(rowGroups(plain, AbsentInRange) > 0,
      "stats unexpectedly pruned the in-range absent key — test key invalid")
    assert(rowGroups(bloomed, AbsentInRange) === 0,
      "bloom failed to exclude all row groups for an absent key")
    // a present key keeps its bucket's row group
    assert(rowGroups(bloomed, "conv-55") > 0)
  }

  test("driver-side get pushes its key into the parquet read: bloom and stats skip row groups") {
    val bloomed = mkTable(Some(1000L))
    val plain = mkTable(None)
    Seq(bloomed, plain).foreach(_.merge(batch(0 until 200), "conv_id", 0L))
    def scanned(t: IcebergLikeTable, key: String) = StoreTestAccess.pointRowsScanned(t, key)
    // in range of every file: only the bloom can skip the row group
    assert(scanned(plain, AbsentInRange) > 0)
    assert(scanned(bloomed, AbsentInRange) === 0)
    // past every file's max key: the row-group stats skip it, bloom or not
    assert(scanned(plain, "zz-absent") === 0)
    assert(scanned(bloomed, "conv-55") > 0)
    assert(bloomed.get(AbsentInRange).isEmpty)
    assert(bloomed.get("conv-55").map(_.row.getLong(1)) === Some(55L))
  }

  test("no keyBloomNdv -> no bloom bytes written") {
    val t = mkTable(None)
    t.merge(batch(0 until 50), "conv_id", 0L)
    deltaFiles(t).foreach { f =>
      withReader(f, None) { r =>
        val block = r.getFooter.getBlocks.get(0)
        val cc = block.getColumns.asScala
          .find(_.getPath.toDotString == "conv_id").get
        assert(r.getBloomFilterDataReader(block).readBloomFilter(cc) == null)
      }
    }
  }

  test("lookup/read/compaction results identical bloom vs no-bloom") {
    val a = mkTable(Some(1000L), maxDeltas = 1)
    val b = mkTable(None, maxDeltas = 1)
    val upd = (50 until 150).map(i => (s"conv-$i", i.toLong * 10))
      .toDF("conv_id", "v")
    Seq(a, b).foreach { t =>
      t.merge(batch(0 until 100), "conv_id", 0L)
      t.merge(upd, "conv_id", 1L)
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(a.read()) === rows(b.read()))
    assert(rows(a.lookup("conv_id", "conv-75")) ===
      rows(b.lookup("conv_id", "conv-75")))
    assert(a.lookup("conv_id", AbsentInRange).isEmpty)
    // compaction rewrites keep the bloom (every write path shares the writer)
    a.compact()
    val base = deltaFiles(a).filter(_.contains("base-"))
    assert(base.nonEmpty)
    base.foreach { f =>
      withReader(f, None) { r =>
        val block = r.getFooter.getBlocks.get(0)
        val cc = block.getColumns.asScala
          .find(_.getPath.toDotString == "conv_id").get
        assert(r.getBloomFilterDataReader(block).readBloomFilter(cc) != null)
      }
    }
    assert(rows(a.read()) === rows(b.read()))
  }
}

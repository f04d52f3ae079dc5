package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources._

/** One table over every base+delta store: each row pins the
  * configuration a store object passes to [[DeltaStore]] (commit rule,
  * compaction dedupe, compacted file count), and every test checks
  * that configuration through behaviour, so a store that loses its
  * `strictCommit` or changes its file count fails here. */
class StoreProtocolSpec extends AnyFunSuite {

  lazy val spark: SparkSession = graft.core.GraftSession
    .builder("store-protocol-spec", "4").getOrCreate()

  private case class Conf(name: String, store: DeltaStore, strict: Boolean,
      dedupe: Boolean, files: Int)

  private val table = Seq(
    Conf("FingerprintStore", FingerprintStore, strict = false, dedupe = true, 32),
    Conf("PostingsStore", PostingsStore, strict = true, dedupe = false, 32),
    Conf("PosPostingsStore", PosPostingsStore, strict = true, dedupe = false, 32),
    Conf("DHashStore", DHashStore, strict = false, dedupe = true, 8),
    Conf("AudioHashStore", AudioHashStore, strict = false, dedupe = true, 8),
    Conf("FrameHashStore", FrameHashStore, strict = true, dedupe = true, 8),
    Conf("ChangeFeedStore", ChangeFeedStore, strict = true, dedupe = false, 8),
    Conf("MomentStore", MomentStore, strict = true, dedupe = false, 4),
    Conf("MetricLogStore", MetricLogStore, strict = true, dedupe = false, 4),
    Conf("SketchStore", SketchStore, strict = true, dedupe = false, 2))

  /** Rows `ids` of the store's schema; every column is distinct per
    * id, so layout columns spread over the hash range. */
  private def localRows(store: DeltaStore, ids: Seq[Int]): Seq[Row] = {
    val schema = store.empty(spark).schema
    ids.map { i =>
      Row.fromSeq(schema.fields.toSeq.zipWithIndex.map { case (f, k) =>
        f.dataType match {
          case LongType => i * 10L + k
          case IntegerType => i
          case StringType => s"${f.name}-$i"
          case BooleanType => i % 2 == 0
          case _: DecimalType => java.math.BigDecimal.valueOf(i.toLong)
          case t => sys.error(s"no fixture value for $t")
        }
      })
    }
  }

  private def rows(store: DeltaStore, ids: Seq[Int]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(localRows(store, ids), 1),
      store.empty(spark).schema)

  private def fs(dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def newDir(): String =
    Files.createTempDirectory("graft-store-protocol").toString

  private def rowSet(rows: Seq[Row]): Set[String] = rows.map(_.toString).toSet

  /** What one store does with three deltas — `b1` (rows 0-199), `b2`
    * (rows 199-202, so row 199 is in both) and `b3` (rows 300-302,
    * `_SUCCESS` removed as after a crash mid-commit) — before and after
    * one default-argument compaction. */
  private case class Seen(loaded: Long, excludingB2: Set[String],
      folded: Int, compacted: Long, files: Int)

  private lazy val seen: Map[String, Seen] = table.map { c =>
    val dir = newDir()
    c.store.appendDelta(rows(c.store, 0 until 200), dir, "b1")
    c.store.appendDelta(rows(c.store, 199 until 203), dir, "b2")
    c.store.appendDelta(rows(c.store, 300 until 303), dir, "b3")
    assert(fs(dir).delete(new Path(s"$dir/delta/b3/_SUCCESS"), false))
    val loaded = c.store.load(spark, dir).count()
    val excludingB2 =
      rowSet(c.store.load(spark, dir, excludeDelta = Some("b2")).collect())
    val folded = c.store.compact(spark, dir)
    val compacted = c.store.load(spark, dir).count()
    val files = fs(dir).listStatus(new Path(s"$dir/base"))
      .count(_.getPath.getName.startsWith("part-"))
    c.name -> Seen(loaded, excludingB2, folded, compacted, files)
  }.toMap

  /** Rows the marker-less `b3` adds where it is visible. */
  private def b3Rows(c: Conf): Int = if (c.strict) 0 else 3

  test("a delta without _SUCCESS is invisible to load and compact for strict stores only") {
    table.foreach { c =>
      val s = seen(c.name)
      assert(s.loaded == 204 + b3Rows(c), c.name)
      assert(s.folded == 2 + (if (c.strict) 0 else 1), c.name)
    }
  }

  test("duplicate rows collapse at compaction for dedupe stores only") {
    table.foreach { c =>
      val base = if (c.dedupe) 203 else 204
      assert(seen(c.name).compacted == base + b3Rows(c), c.name)
    }
  }

  test("compact with default arguments writes at most compactFiles files") {
    table.foreach { c =>
      val files = seen(c.name).files
      // 200+ distinct layout keys leave no hash partition empty, so the
      // lower bound pins the value, not just a cap
      assert(files <= c.files && files > c.files / 2, s"${c.name}: $files")
    }
  }

  test("load(excludeDelta = Some(b)) drops exactly batch b") {
    table.foreach { c =>
      val want = localRows(c.store,
        (0 until 200) ++ (if (c.strict) Nil else 300 until 303))
      assert(seen(c.name).excludingB2 == rowSet(want), c.name)
    }
  }

  test("a fold point longer than 256 bytes is read whole") {
    // A local file system caps a path component at 255 bytes, so the
    // marker an object-store compaction would write for a 300-character
    // batch id is planted into the base generation directly.
    val store = PostingsStore
    val dir = newDir()
    store.appendDelta(rows(store, 0 until 3), dir, "b1")
    assert(store.compact(spark, dir) == 1)
    val longId = "b" + "x" * 299
    val marker = new Path(s"$dir/base/_folded_max")
    val out = fs(dir).create(marker, true)
    try out.write(longId.getBytes(UTF_8)) finally out.close()

    // shares its first 256 characters with the fold point, sorts before it
    val earlier = longId.take(256) + "a"
    assert(earlier < longId)
    intercept[IllegalArgumentException](store.loadAsOf(spark, dir, earlier))
    assert(store.loadAsOf(spark, dir, longId).count() == 3)

    // the next compaction carries the whole id forward
    store.appendDelta(rows(store, 3 until 6), dir, "b2")
    assert(store.compact(spark, dir) == 1)
    val in = fs(dir).open(marker)
    val carried = try new String(in.readAllBytes(), UTF_8) finally in.close()
    assert(carried == longId)
  }
}

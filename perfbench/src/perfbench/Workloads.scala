package perfbench

import graft._
import graft.dedup.DedupIndex
import graft.diff.Diff
import graft.parquet.implicits._
import graft.pipeline.Curation
import graft.text.{ByteBpe, Packing, Shards, TokenizerArtifact}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Path}
import scala.collection.mutable

/**
 * One benchmark workload. The run loop in [[Main]] calls [[setUp]] once
 * (it builds the inputs and base artifacts), then [[op]] in a closed loop
 * with one client. An op runs only library calls, each inside
 * `t.call`, and returns the output checks to run once its timing is taken:
 * the argument selects the full checks, which the untimed warm op runs.
 */
trait Workload {
  /** Sizes and planted rates, printed beside the metrics. */
  def describe: String
  /** Input rows one op processes. */
  def rowsPerOp: Long
  def setUp(t: Tracer): Unit
  /** Untimed preparation of op `i`: generate its input, clear old output. */
  def prepare(i: Int): Unit = ()
  def op(t: Tracer, i: Int): Boolean => Seq[String]
  /** End-of-run checks over everything the ops left behind. */
  def finish(): Seq[String] = Seq.empty
  /** Bytes on disk at the end over the input bytes they were made from. */
  def storedBytesPerInputByte: Double
}

object Workload {
  val Names: Seq[String] = Seq("snapshot_diff", "daily_ingest")

  /** The traced calls into layers, named `<layer>.<call>`: each traced run
    * reports all of them, with 0 for the calls its workload does not make. */
  val CallSites: Seq[String] = SnapshotDiff.Sites ++ DailyIngest.Sites

  def apply(name: String, spark: SparkSession, dir: Path, seed: Long): Workload = name match {
    case "snapshot_diff" => new SnapshotDiff(spark, dir, seed)
    case "daily_ingest" => new DailyIngest(spark, dir, seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_)) finally s.close()
    }

  def check(ok: Boolean, what: => String): Seq[String] = if (ok) Seq.empty else Seq(what)

  /** Run an op body that holds caches: release them at once if it throws,
    * else after its checks, which run untimed and may still read them. */
  def releasing(release: => Unit)(body: => Boolean => Seq[String]): Boolean => Seq[String] = {
    val checks = try body catch { case e: Throwable => release; throw e }
    full => try checks(full) finally release
  }

  /** Order-insensitive content hash and row count of a frame. */
  def contentHash(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(bit_xor(xxhash64(df.columns.map(col).toIndexedSeq: _*)), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }
}

import Workload._

/**
 * Diff two seeded snapshots, then histogram the diff, number its rows,
 * write it partitioned by action and scan the written files' row groups.
 */
final class SnapshotDiff(spark: SparkSession, dir: Path, seed: Long) extends Workload {
  private val rows = 150000L
  private val gen = new SnapshotGen(spark, seed, rows, changeRate = 0.05, deleteRate = 0.02, insertRate = 0.02)
  private var left: DataFrame = _
  private var right: DataFrame = _
  private var planted: Map[String, Long] = Map.empty
  private var inputBytes = 0L
  private var numbersFingerprint = BigDecimal(0)

  def describe: String =
    s"rows_per_side=$rows value_columns=20 change_rate=${gen.changeRate} " +
      s"delete_rate=${gen.deleteRate} insert_rate=${gen.insertRate}"

  def rowsPerOp: Long = 2 * rows - planted("D") + planted("I")

  def setUp(t: Tracer): Unit = {
    left = gen.left.persist(StorageLevel.MEMORY_AND_DISK)
    right = gen.right.persist(StorageLevel.MEMORY_AND_DISK)
    left.count()
    right.count()
    planted = gen.planted()
    inputBytes = gen.bytes(left) + gen.bytes(right)
    numbersFingerprint = fingerprint(spark.range(1, planted.values.sum + 1).toDF("rn"))
  }

  /** Sum of the 64-bit hashes of the `rn` values: equal for two sets of
    * distinct numbers only when they are (almost surely) the same set. */
  private def fingerprint(numbered: DataFrame): BigDecimal =
    BigDecimal(numbered.agg(coalesce(sum(xxhash64(col("rn")).cast(DecimalType(38, 0))), lit(0)))
      .head().getDecimal(0))

  private def out(i: Int): Path = dir.resolve(s"diff-$i")

  override def prepare(i: Int): Unit = delete(out(i - 1))

  def op(t: Tracer, i: Int): Boolean => Seq[String] = {
    val target = out(i).toString
    val diff = t.call("diff.of") {
      val d = Diff.of(left, right, "id").persist(StorageLevel.MEMORY_AND_DISK)
      d.count()
      d
    }
    releasing(diff.unpersist(blocking = true)) {
      val thresholds = Seq(rows / 4, rows / 2, 3 * rows / 4)
      val histogram = t.call("core.histogram") {
        Histogram.of(diff, thresholds, col("id"), col("diff")).collect()
      }
      val numbers = t.call("core.withRowNumbers") {
        val handle = UnpersistHandle()
        try RowNumbers.withRowNumbers(diff, "rn", StorageLevel.MEMORY_AND_DISK, handle, Seq(col("right_d0")))
          .agg(count(lit(1)), min("rn"), max("rn"), sum(xxhash64(col("rn")).cast(DecimalType(38, 0)))).head()
        finally handle.unpersist(blocking = true)
      }
      t.call("write.writePartitionedBy") {
        diff.writePartitionedBy(Seq(col("diff")), moreFileOrder = Seq(col("id"))).mode("overwrite").parquet(target)
      }
      val blockRows = t.call("parquet.parquetBlocks") {
        spark.read.parquetBlocks(target).agg(coalesce(sum("rows"), lit(0L))).head().getLong(0)
      }
      val perAction = histogram.map(r => r.getString(0) -> (1 until r.length).map(r.getLong).sum).toMap
        .withDefaultValue(0L)
      val n = planted.values.sum
      full => {
        val counts = planted.toSeq.sorted.flatMap { case (action, want) =>
          check(perAction(action) == want, s"diff action $action: ${perAction(action)} rows, planted $want")
        }
        val rn = check(numbers.getLong(0) == n && numbers.getLong(1) == 1 && numbers.getLong(2) == n &&
          BigDecimal(numbers.getDecimal(3)) == numbersFingerprint,
          s"row numbers are not exactly 1..$n: $numbers")
        val blocks = check(blockRows == n, s"parquetBlocks rows $blockRows, diff rows $n")
        val patch = if (!full) Seq.empty else {
          val patched = Diff.patchRight(diff).select(right.columns.map(col).toIndexedSeq: _*)
          check(contentHash(patched) == contentHash(right), "patchRight(diff) differs from the right snapshot")
        }
        counts ++ rn ++ blocks ++ patch
      }
    }
  }

  def storedBytesPerInputByte: Double = dirBytes(dir).toDouble / inputBytes
}

object SnapshotDiff {
  val Sites: Seq[String] = Seq("diff.of", "core.histogram", "core.withRowNumbers",
    "write.writePartitionedBy", "parquet.parquetBlocks")
}

/**
 * Daily ingest: a base dedup index and shard set, then document batches
 * that each carry planted copies of earlier documents. One op curates a
 * batch against the index (appending its survivors), appends the
 * survivors to the shards and reads the new range back.
 */
final class DailyIngest(spark: SparkSession, dir: Path, seed: Long) extends Workload {
  private val baseDocs = 1000
  private val batchDocs = 1000
  private val exactRate = 0.05
  private val nearRate = 0.05
  private val merges = 200
  private val capacity = 2048
  private val sepSpecial = "<|endoftext|>"

  private val gen = new DocGen(seed)
  private val pool = mutable.ArrayBuffer.empty[Doc]
  private val kept = mutable.ArrayBuffer.empty[Doc]
  private var model: ByteBpe.ByteBpeModel = _
  private var sequences = 0L
  private var inputBytes = 0L
  private var batch: IndexedSeq[Doc] = IndexedSeq.empty
  private def root: Path = dir.resolve("ingest")
  private def indexDir: String = root.resolve("index").toString
  private def shardDir: String = root.resolve("shards").toString

  def describe: String =
    s"base_docs=$baseDocs batch_docs=$batchDocs words_per_doc=${DocGen.MinWords}-${DocGen.MaxWords} " +
      s"vocabulary=${DocGen.Vocab.length} exact_copy_rate=$exactRate near_copy_rate=$nearRate " +
      s"(copies of earlier originals, base or batches) bpe_merges=$merges shard_capacity=$capacity"

  def rowsPerOp: Long = batchDocs.toLong

  def setUp(t: Tracer): Unit = {
    val base = gen.batch(0L, baseDocs, pool, 0.0, 0.0)
    kept ++= base
    inputBytes = DocGen.utf8Bytes(base)
    val df = DocGen.toDF(spark, base).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      df.count()
      t.call("dedup.saveDedupIndex") { DedupIndex.saveDedupIndex(df, col("id"), col("text"), indexDir) }
      model = t.call("text.byteBpeTrain") { ByteBpe.train(df, col("text"), merges) }
      sequences = t.call("text.saveShards") {
        Shards.saveShards(df.select(col("id"), ByteBpe.encodeIds(col("text"), model).as("ids")),
          col("ids"), Seq(col("id")), capacity, ByteBpe.vocabSize(model), shardDir,
          Some(TokenizerArtifact.Tokenizer(model, Seq(sepSpecial))))
      }
    } finally df.unpersist(blocking = true)
  }

  override def prepare(i: Int): Unit = {
    batch = gen.batch(baseDocs.toLong + (i.toLong * batchDocs), batchDocs, pool, exactRate, nearRate)
    inputBytes += DocGen.utf8Bytes(batch)
  }

  def op(t: Tracer, i: Int): Boolean => Seq[String] = {
    import spark.implicits._
    val docsBefore = kept.length.toLong
    val seqsBefore = sequences
    // silent: a curation that throws before registering its result must not
    // have its error masked by the release
    val handle = new SilentUnpersistHandle()
    var encoded: DataFrame = null
    releasing { if (encoded != null) encoded.unpersist(blocking = true); handle.unpersist(blocking = true) } {
      val (survivors, survivorIds) = t.call("pipeline.curateIncrement") {
        val (s, _) = Curation.curateIncrement(DocGen.toDF(spark, batch), col("id"), col("text"), indexPath = indexDir,
          keepLangs = Set.empty, minTokens = 1, maxTokens = 1000000, minAvgTokenLen = 0.0,
          maxAvgTokenLen = 1000.0, minStopwordRatio = 0.0, maxTopBigramFraction = 1.0,
          appendSurvivors = true, unpersistHandle = handle)
        (s, s.select("id").as[Long].collect().sorted)
      }
      encoded = t.call("functions.encodeIds") {
        val e = survivors.select(col("id"), ByteBpe.encodeIds(col("text"), model).as("ids"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        e.count()
        e
      }
      sequences = t.call("text.appendShards") { Shards.appendShards(encoded, col("ids"), Seq(col("id")), shardDir) }
      val readBack = t.call("text.unpackShardsRange") {
        // unpackShardsRange leaves its separator census cached (it passes no
        // unpersist handle to its prefix sum), and appendShards swaps files
        // under data/ behind Spark's cache, so without a refresh this read
        // would be served the previous batch's census
        spark.catalog.refreshByPath(s"$shardDir/data")
        contentHash(Shards.unpackShardsRange(spark, shardDir, math.max(seqsBefore - 1, 0L), sequences)
          .filter(col("doc_idx") >= docsBefore).select("doc_idx", "ids"))
      }
      val originals = batch.filter(_.original)
      kept ++= originals
      _ => {
        val wantIds = originals.map(_.id)
        val copies = batch.filterNot(_.original).map(_.id).toSet
        val expectedBack = contentHash(encoded.join(
          survivorIds.toSeq.zipWithIndex.map { case (id, k) => (id, docsBefore + k) }.toDF("id", "doc_idx"), "id")
          .select("doc_idx", "ids"))
        check(survivorIds.toSeq == wantIds, s"batch $i kept ${survivorIds.length} documents, planted " +
          s"${wantIds.length} originals; ${survivorIds.count(copies)} planted copies kept") ++
          check(readBack == expectedBack, s"batch $i read-back (rows, hash) $readBack, appended $expectedBack")
      }
    }
  }

  override def finish(): Seq[String] = {
    val verified = Shards.verifyShards(spark, shardDir).head()
    val oneShot = Packing.packTokenIds(
      DocGen.toDF(spark, kept.toSeq).select(col("id"), ByteBpe.encodeIds(col("text"), model).as("ids")),
      col("ids"), Seq(col("id")), capacity, ByteBpe.vocabSize(model))
    val appended = contentHash(Shards.loadShards(spark, shardDir).data.select("seq_id", "ids", "n_docs"))
    check(verified.getAs[Boolean]("all_ok"), s"verifyShards after the last batch: $verified") ++
      check(appended == contentHash(oneShot.select("seq_id", "ids", "n_docs")),
        "appended shards differ from a one-shot pack of the same survivors")
  }

  def storedBytesPerInputByte: Double = dirBytes(root).toDouble / inputBytes
}

object DailyIngest {
  /** Per batch, then the set-up-only calls. */
  val Sites: Seq[String] = Seq("pipeline.curateIncrement", "functions.encodeIds", "text.appendShards",
    "text.unpackShardsRange", "dedup.saveDedupIndex", "text.byteBpeTrain", "text.saveShards")
}

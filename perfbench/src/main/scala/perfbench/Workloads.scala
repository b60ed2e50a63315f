package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import graft.cawd._
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, countDistinct, lit, sum, when}

import scala.collection.mutable

/** What one workload measured in its timed window. */
final case class Outcome(
    opSeconds: Seq[Double],      // untraced op latencies
    tracedSeconds: Seq[Double],  // traced op latencies (trace runs only)
    mbPerOp: Double,             // input MB one op consumes
    trafficPct: Double,          // (TransferBytes + ExtraTransferBytes) / FileBytes
    retainedMb: Double,          // largest heap in use after a full GC that follows an op
    attempted: Int,
    failed: Int,
    layers: Map[String, Double], // per-layer metrics (trace runs only)
    notes: Map[String, Any])

/** One benchmark workload: its seeded inputs, its warm-up op, and a timed
  * window of ops followed by a correctness gate.
  */
trait Workload {
  def name: String
  def generate(spark: SparkSession, dir: Path, seed: Long): Inputs.Corpus
  /** Leading corpus files the warm-up op runs on. */
  def warmFiles: Int
  /** The untimed op that finishes set-up: one op on the leading
    * [[warmFiles]] files of the corpus, in a directory of their own.
    */
  def warmUp(spark: SparkSession, slice: Inputs.Corpus, scratch: Path): Unit
  /** Untimed work on the full corpus after set-up, for workloads whose
    * first full-size ops still run measurably slower than later ones.
    */
  def prime(spark: SparkSession, corpus: Inputs.Corpus, scratch: Path): Unit = ()
  /** Ops until `seconds` have passed, then the correctness gate. With a
    * tracer, ops alternate between untraced and traced.
    */
  def run(spark: SparkSession, corpus: Inputs.Corpus, scratch: Path, seconds: Double,
          tracer: Option[Tracer]): Outcome
}

object Workloads {
  val all: Seq[Workload] = Seq(OrcSnapshots, ParquetResults, StreamWaves)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Global rollup row values by metric (the engine's `file = "general"` rows). */
  def general(rollup: Array[Row]): Map[String, Double] =
    rollup.filter(_.getAs[String]("file") == "general")
      .map(r => r.getAs[String]("metric") -> r.getAs[Double]("value")).toMap

  def trafficPct(g: Map[String, Double]): Double =
    100.0 * (g.getOrElse(Metric.TransferBytes, 0.0) + g.getOrElse(Metric.ExtraTransferBytes, 0.0)) /
      g(Metric.FileBytes)

  /** The rollup values a correct run must reproduce exactly: everything but
    * the timing metrics.
    */
  def exactPart(g: Map[String, Double]): Map[String, Double] =
    g -- Seq(Metric.TransferTime, Metric.ParsingOverhead)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def dirOf(c: Inputs.Corpus): String = c.files.head.getParent.toString

  /** Bytes read through Hadoop's local file system so far (all threads). */
  def fsBytesRead(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesRead"))).fold(0L)(_.longValue)

  /** Heap in use after a full collection, in MB: what an op left live
    * (cached relations, driver-side state). Run after each op, outside its
    * timing. The first collection lets Spark's context cleaner see the
    * op's dead broadcasts and shuffles; after a pause for the cleaner to
    * drop their blocks, the second collection frees them. Measured right
    * after one collection, the figure depended on whether the cleaner had
    * run yet.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(CleanerPauseMs)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** Pause for the context cleaner between the two collections above; it
    * polls its reference queue every 100 ms.
    */
  val CleanerPauseMs = 300L

  /** In-process single-core SHA-1 rate over a 64 MB buffer, median of 3. */
  lazy val sha1FloorMbps: Double = {
    val buf = new Array[Byte](64 << 20)
    new scala.util.Random(1).nextBytes(buf)
    median((1 to 3).map { _ =>
      val md = java.security.MessageDigest.getInstance("SHA-1")
      val t = System.nanoTime()
      md.update(buf)
      md.digest()
      buf.length / 1e6 / ((System.nanoTime() - t) / 1e9)
    })
  }

  /** Run `op(i)` for i = 0, 1, ... until `seconds` have passed (at least
    * `minOps`, at most `maxOps` times); returns (ops that completed, ops
    * that threw).
    */
  def timed(seconds: Double, minOps: Int, maxOps: Int = Int.MaxValue)(
      op: Int => Unit): (Int, Int) = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var failed = 0
    var i = 0
    while (i < maxOps && (i < minOps || System.nanoTime() < deadline)) {
      try op(i)
      catch {
        case scala.util.control.NonFatal(e) =>
          failed += 1
          System.err.println(s"op $i failed: $e")
      }
      i += 1
    }
    (i - failed, failed)
  }

  /** Sequential model of the flat dedup decision: a store that grows in
    * arrival order, probed by every dedup-eligible chunk. `chunks` must be
    * in arrival order: (chunkType, size, signature).
    */
  final case class Tally(hits: Long, misses: Long, transfer: Long, dedup: Long) {
    def asMetrics: Map[String, Double] = Map(
      "ChunkHit" -> hits.toDouble, "ChunkMiss" -> misses.toDouble,
      Metric.TransferBytes -> transfer.toDouble, Metric.DedupBytes -> dedup.toDouble)
  }
  def replayFlat(chunks: Iterator[(String, Long, Array[Byte])], dedupable: Set[String]): Tally = {
    val store = mutable.HashSet.empty[java.nio.ByteBuffer]
    var hits, misses, transfer, dedup = 0L
    chunks.foreach { case (t, size, sig) =>
      if (dedupable(t) && size > 0) {
        if (store.add(java.nio.ByteBuffer.wrap(sig))) { misses += 1; transfer += size }
        else { hits += 1; dedup += size }
      } else transfer += size
    }
    Tally(hits, misses, transfer, dedup)
  }

  /** The engine's top-level chunk table for `files`, in (wave, path, seq)
    * order, for [[replayFlat]].
    */
  def chunkTable(spark: SparkSession, files: Seq[Path], wave: Path => Int,
                 fmt: CawdEngine.Format): Seq[(String, Long, Array[Byte])] = {
    val rows = CawdEngine.chunkFiles(spark, files.map(_.toString).zipWithIndex, fmt)
      .filter(c => c.parentSeq == -1)
      .collect()
    val waveOf = files.map(p => p.toString -> wave(p)).toMap
    rows.sortBy(c => (waveOf(c.file.replaceFirst("^file:", "")), c.file, c.seq))
      .map(c => (c.chunkType, c.size, c.signature)).toSeq
  }

  /** Compare a rollup against a replayed tally; returns mismatch notes. */
  def checkTally(g: Map[String, Double], t: Tally): Seq[String] =
    t.asMetrics.toSeq.sortBy(_._1).collect {
      case (k, v) if g.getOrElse(k, 0.0) != v => s"$k engine=${g.getOrElse(k, 0.0)} model=$v"
    }

  /** Plan-only pass: the engine's public planner over every file, as one job. */
  def planPass(spark: SparkSession, files: Seq[(String, Int)],
               plan: (String, Int) => Seq[FileChunk]): Long = {
    import spark.implicits._
    val n = math.max(1, math.min(files.size, spark.sparkContext.defaultParallelism))
    spark.createDataset(files).repartition(n)
      .flatMap { case (p, r) => plan(p, r).map(_.size) }.count()
  }

  /** Spans named `name` that are direct children of the spans in `roots`. */
  def childrenNamed(spans: Seq[Tracer.Span], roots: Set[Int], name: String): Seq[Tracer.Span] =
    spans.filter(s => s.name == name && roots(s.parent))

  /** Per-layer metrics common to the batch workloads, from traced ops:
    * each op is a root span "op" with children plan, hash, dedup, stats
    * (and recon). Times are medians over ops; Spark work is per op.
    */
  def layerMetrics(tr: Tracer, extra: Map[String, Double]): Map[String, Double] = {
    val spans = tr.all
    val ops = spans.filter(_.name == "op").map(_.id).toSet
    def kids(n: String) = childrenNamed(spans, ops, n)
    val perOp = math.max(1, ops.size).toDouble
    val plan = kids("plan"); val hash = kids("hash")
    val planS = median(plan.map(_.seconds))
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("plan.s") = planS
    // chunkFiles plans every file again before hashing; the plan span just
    // measured that cost, so it is taken out of the hash span
    m("hash.s") = math.max(0.0, median(hash.map(_.seconds)) - planS)
    m("dedup.s") = median(kids("dedup").map(_.seconds))
    m("stats.s") = median(kids("stats").map(_.seconds))
    m("recon.s") = if (kids("recon").isEmpty) 0.0 else median(kids("recon").map(_.seconds))
    Seq("plan", "hash", "dedup", "stats", "recon").foreach { l =>
      val w = kids(l).map(tr.work).foldLeft(Tracer.NoWork)(_ + _)
      sparkWork(m, l, w, perOp)
    }
    m ++= extra
    m.toMap
  }

  def sparkWork(m: mutable.Map[String, Double], l: String, w: Tracer.Work, per: Double): Unit = {
    m(s"$l.jobs") = w.jobs / per
    m(s"$l.tasks") = w.tasks / per
    m(s"$l.task_s") = w.taskS / per
    m(s"$l.gc_s") = w.gcS / per
    m(s"$l.spill_mb") = w.spillMb / per
    m(s"$l.idle_s") = w.idleS / per
    m(s"$l.shuffle_mb") = w.shuffleWriteMb / per
    m(s"$l.stages") = w.stages / per
  }

  /** Task-seconds spent hashing a chunk set, from the engine's per-bucket
    * timing side-channel rows.
    */
  def hashTaskSeconds(chunks: Dataset[FileChunk]): Double =
    chunks.toDF().filter(col("chunkType") === ChunkType.HashStat)
      .agg(sum(col("size"))).head().getLong(0) / 1e3

  /** Hash-layer figures of a traced op. `planRead` and `hashRead` are the
    * bytes read during the plan and hash spans; the hash span re-plans, so
    * its read amplification is net of the plan span's reads.
    */
  def hashExtras(chunks: Dataset[FileChunk], c: Inputs.Corpus, planChunks: Long,
                 planRead: Long, hashRead: Long): Map[String, Double] = {
    val taskS = hashTaskSeconds(chunks)
    val core = if (taskS > 0) c.mb / taskS else 0.0
    Map("plan.chunks" -> planChunks.toDouble,
      "plan.bytes_read" -> planRead.toDouble,
      "hash.mb" -> c.mb, "hash.mbps_core" -> core,
      "hash.efficiency" -> core / sha1FloorMbps,
      "hash.read_amp" -> math.max(0L, hashRead - planRead) / c.bytes.toDouble)
  }

  /** Dedup-layer counts of a status relation: its chunks, the distinct
    * signatures probed, and the hit ratio of the probes.
    */
  def dedupExtras(status: DataFrame): Map[String, Double] = {
    val r = status.filter(col("status").isin("hit", "miss", "miss_delegated"))
      .agg(count(lit(1)), countDistinct(col("signature")),
        sum(when(col("status") === "hit", 1L).otherwise(0L))).head()
    val probes = r.getLong(0).toDouble
    Map("dedup.chunks" -> status.count().toDouble, "dedup.distinct_sigs" -> r.getLong(1).toDouble,
      "dedup.hit_ratio" -> (if (probes == 0) 0.0 else r.getLong(2) / probes))
  }

  /** The timed window of a batch workload: untraced ops, alternating with
    * traced ones when tracing. A traced op returns its rollup and the
    * harness's own counting queries over the relations it cached; those run
    * after the op's timing, so `trace.overhead_s` holds only the cost of
    * running the layers one at a time. Each op's global rollup is kept
    * (timing metrics dropped) and the cache is cleared after every op,
    * outside the timing, so each op starts from the same state.
    */
  final class BatchWindow(val rollups: Seq[Map[String, Double]], plain: Seq[Double],
                          traced: Seq[Double], heapMb: Double, ops: Int, failedOps: Int,
                          extras: Map[String, Double]) {
    /** The outcome, with the rollup-stability check and `checks` more. */
    def outcome(c: Inputs.Corpus, tracer: Option[Tracer], failedChecks: Int, checks: Int,
                notes: Map[String, Any]): Outcome = {
      val unstable = rollups.distinct.size > 1
      if (unstable) System.err.println(s"gate: rollups differ between ops: ${rollups.distinct}")
      Outcome(plain, traced, c.mb, rollups.headOption.fold(Double.NaN)(trafficPct), heapMb,
        ops + failedOps + checks + 1, failedOps + failedChecks + (if (unstable) 1 else 0),
        tracer.fold(Map.empty[String, Double])(tr => layerMetrics(tr, extras)),
        notes ++ Map("files" -> c.files.size, "ops" -> ops))
    }
  }

  def batchWindow(spark: SparkSession, seconds: Double, tracer: Option[Tracer])(
      op: => Array[Row])(
      tracedOp: Tracer => (Array[Row], () => Map[String, Double])): BatchWindow = {
    val rollups = mutable.ArrayBuffer.empty[Map[String, Double]]
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    var extras = Map.empty[String, Double]
    var heapMb = 0.0
    val (ops, failedOps) = timed(seconds, minOps = if (tracer.isDefined) 4 else 3) { i =>
      val t = System.nanoTime()
      val (rollup, counts) = tracer.filter(_ => i % 2 == 1) match {
        case Some(tr) => val (r, c) = tracedOp(tr); (r, Some(c))
        case None     => (op, None)
      }
      (if (counts.isDefined) traced else plain) += (System.nanoTime() - t) / 1e9
      counts.foreach(c => extras = c())
      rollups += exactPart(general(rollup))
      heapMb = math.max(heapMb, retainedHeapMb())
      spark.catalog.clearCache()
    }
    new BatchWindow(rollups.toSeq, plain.toSeq, traced.toSeq, heapMb, ops, failedOps, extras)
  }
}

import Workloads._

/** Successive ORC snapshots of one fact table through the paper's s+p
  * cascade, then byte-for-byte reconstruction. Few chunks per byte: the
  * work is region hashing and reconstruction, not planning.
  */
object OrcSnapshots extends Workload {
  val name = "orc-snapshots"
  val shape = Inputs.OrcShape(snapshots = 8, parts = 4, rowsPerPart = 360000,
    appendRows = 36000, stripeBytes = 1L << 20,
    resendShare = 4.0 / 7, editShare = 2.0 / 7, appendShare = 1.0 / 7)
  val warmFiles: Int = shape.parts

  def generate(spark: SparkSession, dir: Path, seed: Long): Inputs.Corpus =
    Inputs.orcSnapshots(spark, dir, seed, shape)

  /** The files as the engine lists them, so every call sees the same paths. */
  private def files(dir: String) = CawdEngine.listFiles(dir, ".orc")

  /** One untraced op: s+p dedup stats, then reconstruction. */
  private def op(spark: SparkSession, dir: String, out: Path): Array[Row] = {
    val rollup = CawdEngine.hierarchicalDedupStats(spark, dir).collect()
    reconstruct(spark, dir, out)
    rollup
  }

  private def reconstruct(spark: SparkSession, dir: String, out: Path): Array[Row] =
    CawdEngine.reconstructTo(CawdEngine.chunkFiles(spark, files(dir), CawdEngine.Orc,
      OrcChunker.StripeColumn, withContent = true), out.toString).collect()

  def warmUp(spark: SparkSession, slice: Inputs.Corpus, scratch: Path): Unit = {
    op(spark, dirOf(slice), scratch.resolve("recon"))
    spark.catalog.clearCache()
  }

  /** Two full ops: hashing and reconstruction keep getting faster for
    * several ops after a one-snapshot warm-up.
    */
  override def prime(spark: SparkSession, c: Inputs.Corpus, scratch: Path): Unit =
    (1 to 2).foreach(_ => warmUp(spark, c, scratch))

  /** One traced op: the calls [[op]] makes, one layer per span. */
  private def tracedOp(spark: SparkSession, tr: Tracer, c: Inputs.Corpus,
                       out: Path): (Array[Row], () => Map[String, Double]) = tr.span("op") {
    val fs = files(dirOf(c))
    val read0 = fsBytesRead()
    val nChunks = tr.span("plan") {
      planPass(spark, fs, (p, r) => OrcChunker.plan(p, r, OrcChunker.StripeColumn))
    }
    val read1 = fsBytesRead()
    val chunks = tr.span("hash") {
      val ch = CawdEngine.chunkFiles(spark, fs, CawdEngine.Orc, OrcChunker.StripeColumn).cache()
      ch.count()
      ch
    }
    val read2 = fsBytesRead()
    val status = tr.span("dedup") {
      val st = Dedup.hierarchicalStatus(chunks.toDF()).cache()
      st.count()
      st
    }
    val rollup = tr.span("stats") {
      Stats.rollup(Stats.fromStatus(status, emitSizes = true)
        .unionByName(CawdEngine.timingStats(chunks))).collect()
    }
    val written = tr.span("recon")(reconstruct(spark, dirOf(c), out))
    (rollup, () => hashExtras(chunks, c, nChunks, read1 - read0, read2 - read1) ++
      dedupExtras(status) ++ Map("stats.rows" -> rollup.length.toDouble,
        "recon.mb_written" -> written.map(_.getAs[Long]("bytes")).sum / 1e6))
  }

  def run(spark: SparkSession, c: Inputs.Corpus, scratch: Path, seconds: Double,
          tracer: Option[Tracer]): Outcome = {
    val out = scratch.resolve("recon")
    val w = batchWindow(spark, seconds, tracer)(op(spark, dirOf(c), out))(
      tracedOp(spark, _, c, out))
    // gate: every reconstructed file is byte-identical to its original
    val rebuilt = Inputs.Corpus(c.files.map(f => out.resolve(f.getFileName)))
    val mismatched = c.files.zip(Inputs.sha1All(c).zip(Inputs.sha1All(rebuilt)))
      .collect { case (f, (a, b)) if a != b => f }
    mismatched.foreach(f => System.err.println(s"gate: reconstructed ${f.getFileName} differs"))
    w.outcome(c, tracer, failedChecks = if (mismatched.nonEmpty) 1 else 0, checks = 1,
      Map("reconstructed_files" -> (c.files.size - mismatched.size)))
  }
}

/** Many small Parquet query results with 4 KB pages through flat dedup.
  * Many files and pages over few bytes: the work is page planning and the
  * signature aggregation, not hashing.
  */
object ParquetResults extends Workload {
  val name = "parquet-results"
  val shape = Inputs.ParquetShape(files = 200, lead = 20, block = 20,
    minRows = 700, maxRows = 1100, pageBytes = 4096, resendShare = 0.24, editShare = 0.16)
  val warmFiles = 20

  def generate(spark: SparkSession, dir: Path, seed: Long): Inputs.Corpus =
    Inputs.parquetResults(spark, dir, seed, shape)

  private def op(spark: SparkSession, dir: String): Array[Row] =
    CawdEngine.flatDedupStats(spark, dir, CawdEngine.Parquet).collect()

  def warmUp(spark: SparkSession, slice: Inputs.Corpus, scratch: Path): Unit = {
    op(spark, dirOf(slice))
    spark.catalog.clearCache()
  }

  /** One full op: planning hundreds of files keeps getting faster for
    * several ops after a 20-file warm-up.
    */
  override def prime(spark: SparkSession, c: Inputs.Corpus, scratch: Path): Unit =
    warmUp(spark, c, scratch)

  /** One traced op: the calls [[op]] makes, one layer per span. */
  private def tracedOp(spark: SparkSession, tr: Tracer,
                       c: Inputs.Corpus): (Array[Row], () => Map[String, Double]) = tr.span("op") {
    val fs = CawdEngine.listFiles(dirOf(c), ".parquet")
    val read0 = fsBytesRead()
    val nChunks = tr.span("plan")(planPass(spark, fs, ParquetChunker.plan))
    val read1 = fsBytesRead()
    val chunks = tr.span("hash") {
      val ch = CawdEngine.chunkFiles(spark, fs, CawdEngine.Parquet).cache()
      ch.count()
      ch
    }
    val read2 = fsBytesRead()
    val status = tr.span("dedup") {
      val st = Dedup.flatStatus(chunks.toDF(), ChunkType.parquetDedupable).cache()
      st.count()
      st
    }
    val rollup = tr.span("stats") {
      Stats.rollup(Stats.fromStatus(status).unionByName(CawdEngine.timingStats(chunks))).collect()
    }
    (rollup, () => hashExtras(chunks, c, nChunks, read1 - read0, read2 - read1) ++
      dedupExtras(status) ++ Map("stats.rows" -> rollup.length.toDouble))
  }

  def run(spark: SparkSession, c: Inputs.Corpus, scratch: Path, seconds: Double,
          tracer: Option[Tracer]): Outcome = {
    val w = batchWindow(spark, seconds, tracer)(op(spark, dirOf(c)))(tracedOp(spark, _, c))
    // gate: a sequential replay of the engine's chunk table in arrival
    // order reproduces the hit/miss counts and byte totals exactly
    val tally = replayFlat(chunkTable(spark, c.files, _ => 0, CawdEngine.Parquet).iterator,
      ChunkType.parquetDedupable)
    val diffs = checkTally(w.rollups.head, tally)
    diffs.foreach(d => System.err.println(s"gate: $d"))
    w.outcome(c, tracer, failedChecks = if (diffs.nonEmpty) 1 else 0, checks = 1,
      Map("chunk_hits" -> tally.hits, "chunk_misses" -> tally.misses))
  }
}

/** A closed loop of small Parquet waves through the streaming engine: each
  * wave is staged into the watched directory only after the previous one's
  * stats landed, and drained by a stream that resumes from one checkpoint.
  * The only workload that writes the store; latency is per-batch fixed
  * cost, store probe and store write, not bytes.
  */
object StreamWaves extends Workload {
  val name = "stream-waves"
  val filesPerWave = 10
  /** Generated waves: the most one run can stage. */
  val poolWaves = 16
  /** Waves after which the traffic share is read. */
  val trafficWaves = 4
  /** Seconds of `--seconds` per measured wave. A wave and its heap reading
    * take about 2.3 s on 4 cores, so the window outlasts `--seconds`: eight
    * waves at `--seconds 10` give a steadier median than five would.
    */
  val SecondsPerWave = 1.25
  val PrimeWaves = 10

  /** Waves one run stages: a first wave, which finds the store empty and
    * skips the probe and so is not measured, then measured waves for about
    * `seconds`. The count depends on `seconds` alone, never on how fast the
    * waves run, so every commit measures the same store sizes.
    */
  def waveCount(seconds: Double): Int =
    1 + math.min(poolWaves - 1, math.max(trafficWaves, math.round(seconds / SecondsPerWave).toInt))

  // one row count for every file: a wave's MB, and with it the wave's
  // throughput, then barely depends on the seed
  val shape = Inputs.ParquetShape(files = filesPerWave * poolWaves, lead = filesPerWave,
    block = filesPerWave, minRows = 600, maxRows = 600, pageBytes = 4096,
    resendShare = 0.3, editShare = 0.1)

  val warmFiles: Int = filesPerWave

  def generate(spark: SparkSession, dir: Path, seed: Long): Inputs.Corpus =
    Inputs.parquetResults(spark, dir, seed, shape)

  private def waveFiles(c: Inputs.Corpus, w: Int): Seq[Path] =
    c.files.slice(w * filesPerWave, (w + 1) * filesPerWave)

  /** Directories of one stream: watched input, store, stats, checkpoint. */
  private final class Stream(root: Path) {
    val in: Path = Files.createDirectories(root.resolve("in"))
    val store: String = root.resolve("store").toString
    val stats: Path = root.resolve("stats")
    val ckpt: String = root.resolve("checkpoint").toString
    var waves = 0

    /** Stage wave files into the watched directory (atomic renames of
      * copies), drain them, and report whether the wave's stats landed.
      */
    def wave(spark: SparkSession, srcs: Seq[Path], tracer: Option[(Tracer, Int)]): Boolean = {
      srcs.foreach { p =>
        val tmp = in.resolve(s".${p.getFileName}.tmp")
        Files.copy(p, tmp)
        Files.move(tmp, in.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
      }
      val q = StreamingEngine.start(spark, in.toString, store, stats.toString, ".parquet",
        CawdEngine.Parquet, ckpt)
      tracer.foreach { case (tr, spanId) => tr.adopt(q.runId.toString, spanId) }
      q.awaitTermination()
      val landed = Files.exists(stats.resolve(s"batch_id=$waves").resolve("_SUCCESS"))
      waves += 1
      landed
    }

    def rollup(spark: SparkSession): Array[Row] =
      StreamingEngine.statsRollup(spark, stats.toString).collect()
  }

  def warmUp(spark: SparkSession, slice: Inputs.Corpus, scratch: Path): Unit = {
    val s = new Stream(scratch.resolve("stream"))
    slice.files.grouped(filesPerWave).foreach { w =>
      require(s.wave(spark, w, None), "warm-up wave stats did not land")
    }
    s.rollup(spark)
    spark.catalog.clearCache()
  }

  /** Waves in a stream of their own: all but the first probe a non-empty
    * store, as measured waves do. Wave latency keeps falling for several
    * waves after set-up.
    */
  override def prime(spark: SparkSession, c: Inputs.Corpus, scratch: Path): Unit =
    warmUp(spark, Inputs.Corpus(c.files.take(PrimeWaves * filesPerWave)), scratch)

  def run(spark: SparkSession, c: Inputs.Corpus, scratch: Path, seconds: Double,
          tracer: Option[Tracer]): Outcome = {
    val s = new Stream(scratch.resolve("stream"))
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val measured = mutable.ArrayBuffer.empty[Double]
    var lost = 0
    var traffic = Double.NaN
    var pausedNs = 0L
    var heapMb = 0.0
    val staged = mutable.ArrayBuffer.empty[Path]
    val layerAcc = mutable.Map.empty[String, Seq[Double]].withDefaultValue(Nil)
    val tracedSrcs = mutable.ArrayBuffer.empty[Seq[Path]]
    val n = waveCount(seconds)
    // exactly n waves, however long they take
    val (waves, failedOps) = timed(seconds = 0, minOps = n, maxOps = n) { i =>
      val isTraced = tracer.isDefined && i % 2 == 1
      val srcs = waveFiles(c, i)
      staged ++= srcs.map(p => s.in.resolve(p.getFileName))
      if (isTraced) tracedSrcs += srcs
      val t = System.nanoTime()
      val landed = tracer.filter(_ => isTraced) match {
        case Some(tr) => tr.span("wave")(s.wave(spark, srcs, Some((tr, tr.lastId("wave")))))
        case None     => s.wave(spark, srcs, None)
      }
      val dt = (System.nanoTime() - t) / 1e9
      if (i > 0) {
        (if (isTraced) traced else plain) += dt
        measured += dt
      }
      if (!landed) { lost += 1; System.err.println(s"gate: wave $i stats did not land") }
      // untimed: the traffic share after a fixed number of waves
      val p0 = System.nanoTime()
      heapMb = math.max(heapMb, retainedHeapMb())
      if (s.waves == trafficWaves) traffic = trafficPct(general(s.rollup(spark)))
      pausedNs += System.nanoTime() - p0
    }
    // the traced waves' files planned and hashed on their own, after the
    // last wave: between waves, this work slowed the untraced wave after it
    tracer.foreach(tr => tracedSrcs.foreach(traceWave(spark, tr, _, layerAcc)))
    // the run ends with the engine's rollup over every wave; gate: a
    // sequential replay of the chunk table in (wave, path, seq) order
    val g = exactPart(general(s.rollup(spark)))
    val waveOf = staged.zipWithIndex.map { case (p, k) => p -> k / filesPerWave }.toMap
    val tally = replayFlat(chunkTable(spark, staged.toSeq, waveOf, CawdEngine.Parquet).iterator,
      ChunkType.parquetDedupable)
    val diffs = checkTally(g, tally)
    diffs.foreach(d => System.err.println(s"gate: $d"))
    // traced runs also check that every store and stats figure was
    // attributed to a query in each traced wave
    val (layers, unattributed) = tracer.fold((Map.empty[String, Double], 0)) { tr =>
      waveLayers(tr, s, measured.toSeq, layerAcc.toMap, tally)
    }
    val checks = 1 + (if (tracer.isDefined) 1 else 0)
    val failed = failedOps + lost + (if (diffs.nonEmpty) 1 else 0) + (if (unattributed > 0) 1 else 0)
    val waveMb = median((1 until s.waves).map(w => waveFiles(c, w).map(Files.size).sum / 1e6))
    Outcome(plain.toSeq, traced.toSeq, waveMb, traffic, heapMb, waves + failedOps + checks, failed,
      layers, Map("waves" -> waves, "lost_waves" -> lost, "chunk_hits" -> tally.hits,
        "chunk_misses" -> tally.misses, "paused_s" -> pausedNs / 1e9))
  }

  /** Standalone plan and hash of one wave's files, traced as the batch
    * workloads trace them; inside the wave both run in the probe query.
    */
  private def traceWave(spark: SparkSession, tr: Tracer, srcs: Seq[Path],
                        acc: mutable.Map[String, Seq[Double]]): Unit = tr.span("standalone") {
    val fs = srcs.map(_.toString).zipWithIndex
    val r0 = fsBytesRead()
    val n = tr.span("plan")(planPass(spark, fs, ParquetChunker.plan))
    val r1 = fsBytesRead()
    val chunks = tr.span("hash") {
      val ch = CawdEngine.chunkFiles(spark, fs, CawdEngine.Parquet).cache()
      ch.count()
      ch
    }
    val r2 = fsBytesRead()
    hashExtras(chunks, Inputs.Corpus(srcs), n, r1 - r0, r2 - r1)
      .foreach { case (k, v) => acc(k) :+= v }
    chunks.unpersist()
  }

  /** Per-layer metrics of the traced waves, and how many of the plan-matched
    * figures found no query in some traced wave (each then reads NaN). The
    * queries of one micro-batch are told apart by their physical plans: the
    * probe-set collect (the batch's first query, so it also plans and hashes
    * the batch), the store write (which evaluates the store scan and the
    * first-occurrence join lazily), and the per-batch stats write.
    */
  private def waveLayers(tr: Tracer, s: Stream, waves: Seq[Double],
                         acc: Map[String, Seq[Double]],
                         tally: Tally): (Map[String, Double], Int) = {
    val spans = tr.all
    val waveSpans = spans.filter(_.name == "wave")
    val roots = spans.filter(_.name == "standalone").map(_.id).toSet
    val planS = median(childrenNamed(spans, roots, "plan").map(_.seconds))
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("plan.s") = planS
    m("hash.s") = math.max(0.0, median(childrenNamed(spans, roots, "hash").map(_.seconds)) - planS)
    acc.foreach { case (k, vs) => m(k) = median(vs) }
    var unattributed = 0
    def perWave(markers: String*): Double = {
      val found = waveSpans.map(w => tr.log.sqlSeconds(markers, w.start, w.end))
      if (found.isEmpty || found.exists(_._2 == 0)) {
        unattributed += 1
        System.err.println(s"gate: a traced wave ran no query matching ${markers.mkString(" + ")}")
        Double.NaN
      } else median(found.map(_._1))
    }
    // plans are in Spark's formatted explain mode: operator names in the
    // tree, their arguments in numbered sections below it
    m("store.probe_s") = perWave("CollectLimit", s"Arguments: ${Dedup.MaxInPushdownSigs + 1}")
    m("store.write_s") = perWave(s"${s.store}/batch=")
    m("stats.s") = perWave(s"${s.stats}/batch_id=")
    val storeFiles = Files.walk(java.nio.file.Paths.get(s.store))
    val (nFiles, bytes) = try {
      val fs = storeFiles.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet")).toArray.map(_.asInstanceOf[Path])
      (fs.length, fs.map(Files.size).sum)
    } finally storeFiles.close()
    m("store.files") = nFiles.toDouble
    m("store.mb") = bytes / 1e6
    val third = math.max(1, waves.size / 3)
    m("store.growth") = median(waves.takeRight(third)) / median(waves.take(third))
    m("dedup.chunks") = (tally.hits + tally.misses).toDouble
    m("dedup.distinct_sigs") = tally.misses.toDouble
    m("dedup.hit_ratio") = tally.hits.toDouble / math.max(1L, tally.hits + tally.misses)
    sparkWork(m, "wave", waveSpans.map(tr.work).foldLeft(Tracer.NoWork)(_ + _),
      math.max(1, waveSpans.size).toDouble)
    Seq("plan", "hash").foreach { l =>
      val ks = childrenNamed(spans, roots, l)
      sparkWork(m, l, ks.map(tr.work).foldLeft(Tracer.NoWork)(_ + _), math.max(1, ks.size).toDouble)
    }
    (m.toMap, unattributed)
  }
}

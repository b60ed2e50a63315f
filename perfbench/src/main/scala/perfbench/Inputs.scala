package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._
import scala.util.Random

/** Seeded input corpora, written with Spark's own ORC/Parquet writers.
  *
  * Every generated row is a pure function of (seed, source id, row index),
  * each output file holds the rows of one `slot` in a fixed order, and
  * Spark's part-file names are replaced by names that encode arrival order,
  * so the same seed yields the same bytes. [[digest]] fingerprints a corpus
  * so runs of two commits can show they measured identical inputs.
  */
object Inputs {

  /** Generated input files in arrival order, with their total size. */
  final case class Corpus(files: Seq[Path]) {
    lazy val bytes: Long = files.map(Files.size).sum
    def mb: Double = bytes / 1e6
  }

  /** What a file in a generated sequence is, relative to earlier files. */
  sealed trait Kind
  case object Fresh  extends Kind // new content
  case object Resend extends Kind // byte-identical copy of an earlier file
  case object Edit   extends Kind // an earlier file with one cell changed
  case object Append extends Kind // an earlier file with rows appended

  /** `n` kinds in a seeded order: the first `lead` are [[Fresh]], so
    * every later re-send, edit or append has a source, and each following
    * block of `block` kinds holds each kind in exactly its share, shuffled.
    */
  def schedule(rng: Random, n: Int, lead: Int, block: Int,
               shares: Seq[(Kind, Double)]): Seq[Kind] = {
    val one = shares.flatMap { case (k, s) => Seq.fill(math.round(block * s).toInt)(k) }
    val full = (one ++ Seq.fill(math.max(0, block - one.size))(Fresh)).take(block)
    val body = Iterator.continually(rng.shuffle(full)).flatten.take(n - lead).toSeq
    Seq.fill(lead)(Fresh) ++ body
  }

  /** A 64-bit value derived from the seed and the given columns. */
  private def mix(seed: Long, salt: Int, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)

  /** Fixed-width hex text derived from the seed and the given columns,
    * 16 characters per 64-bit hash.
    */
  private def text(seed: Long, salt: Int, width: Int, cols: Column*): Column =
    substring(concat((0 until (width + 15) / 16).map(k =>
      lpad(hex(mix(seed, salt * 64 + k, cols: _*)), 16, "0")): _*), 1, width)

  /** One row per output file `slot` in 0 until n, in a few tasks of
    * contiguous slot ranges.
    */
  private def slots(spark: SparkSession, n: Int): DataFrame =
    spark.range(0, n, 1, math.min(n, spark.sparkContext.defaultParallelism))
      .select(col("id").cast("int").as("slot"))

  /** Element `slot` of `values`, as a column. */
  private def pick[T: scala.reflect.runtime.universe.TypeTag](values: Seq[T]): Column =
    element_at(typedLit(values), col("slot") + 1)

  /** Write `df` as one file per `slot` value, rows in `order`, and move
    * the file of slot `i` to `names(i)` under `dir`.
    */
  private def writeParts(df: DataFrame, order: String, format: String,
                         options: Map[String, String], dir: Path,
                         names: IndexedSeq[String]): Seq[Path] = {
    val tmp = dir.resolve("_spark_out")
    // rows of one slot never span two tasks (see [[slots]]), so each slot
    // directory receives exactly one file
    df.sortWithinPartitions("slot", order)
      .write.mode("overwrite").options(options).partitionBy("slot").format(format)
      .save(tmp.toString)
    val out = names.indices.map { i =>
      val parts = Files.list(tmp.resolve(s"slot=$i")).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-")).toSeq
      require(parts.size == 1, s"slot $i: expected one $format file, Spark wrote ${parts.size}")
      Files.move(parts.head, dir.resolve(names(i)), StandardCopyOption.ATOMIC_MOVE)
    }
    deleteTree(tmp)
    out
  }

  // ---------------------------------------------------------------- ORC --

  /** Shape of the ORC snapshot corpus: `snapshots` successive versions of
    * one fact table, each written as `parts` files of `rowsPerPart` rows
    * (appends grow that by `appendRows`) with stripes of `stripeBytes`.
    */
  final case class OrcShape(snapshots: Int, parts: Int, rowsPerPart: Long,
                            appendRows: Long, stripeBytes: Long,
                            resendShare: Double, editShare: Double, appendShare: Double)

  /** Successive snapshots `snap-SSS-pP.orc` of one seeded fact table: each
    * snapshot after the first re-sends, edits one column of, or appends rows
    * to the snapshot before it.
    */
  def orcSnapshots(spark: SparkSession, dir: Path, seed: Long, shape: OrcShape): Corpus = {
    Files.createDirectories(dir)
    val kinds = schedule(new Random(seed), shape.snapshots, 1, shape.snapshots - 1,
      Seq(Resend -> shape.resendShare, Edit -> shape.editShare, Append -> shape.appendShare))
    // table state (rows per part, edit version) as of each snapshot
    val states = kinds.tail.scanLeft((shape.rowsPerPart, 0)) {
      case ((rows, ver), Append) => (rows + shape.appendRows, ver)
      case ((rows, ver), Edit)   => (rows, ver + 1)
      case (st, _)               => st
    }
    def names(s: Int) = (0 until shape.parts).map(p => f"snap-$s%03d-p$p%d.orc")
    // every written snapshot's parts in ONE job, one partition per file
    val written = kinds.indices.filter(kinds(_) != Resend)
    val files = for (s <- written; p <- 0 until shape.parts) yield (p, states(s))
    val df = slots(spark, files.size)
      .select(col("slot"), pick(files.map(_._1.toLong)).as("part"),
        pick(files.map(_._2._2.toLong)).as("ver"), pick(files.map(_._2._1)).as("rows"))
      .select(col("slot"), col("part"), col("ver"),
        explode(sequence(lit(0L), col("rows") - 1)).as("idx"))
    val opts = Map("orc.stripe.size" -> shape.stripeBytes.toString,
      "orc.row.index.stride" -> "10000")
    val out = writeParts(factTable(df, seed), "order_id", "orc", opts, dir,
      written.flatMap(names).toIndexedSeq).grouped(shape.parts).toSeq
    val byIndex = written.zip(out).toMap
    var prev: Seq[Path] = Nil
    val all = kinds.indices.flatMap { s =>
      prev = byIndex.getOrElse(s,
        prev.zip(names(s)).map { case (src, n) => Files.copy(src, dir.resolve(n)) })
      prev
    }
    Corpus(all)
  }

  /** Fact table rows for (part, ver, idx): a pure function of the seed and
    * the row's part and index; edit version `ver` changes `price` for one
    * row in 16, so every stripe of an edited snapshot differs in that one
    * column only.
    */
  private def factTable(rows: DataFrame, seed: Long): DataFrame = {
    val part = col("part")
    val idx = col("idx")
    val basePrice = pmod(mix(seed, 3, part, idx), lit(10000000L)) / 100.0
    val edited = (pmod(mix(seed, 4, part, idx), lit(16L)) === 0) && col("ver") > 0
    rows.select(
      col("slot"),
      (part * lit(1L << 32) + idx).as("order_id"),
      pmod(mix(seed, 1, part, idx), lit(200000L)).as("customer_id"),
      pmod(mix(seed, 2, part, idx), lit(50L)).cast("int").as("quantity"),
      when(edited, basePrice + col("ver")).otherwise(basePrice).as("price"),
      element_at(array(Seq("NEW", "PAID", "SHIPPED", "RETURNED").map(lit): _*),
        (pmod(mix(seed, 5, part, idx), lit(4L)) + 1).cast("int")).as("status"),
      text(seed, 6, 32, part, idx).as("comment"))
  }

  // ------------------------------------------------------------ Parquet --

  /** Shape of a Parquet "query result" corpus: `files` small results of
    * `minRows`..`maxRows` rows with `pageBytes` pages. After `lead` fresh
    * results, every block of `block` files re-sends `resendShare` of them
    * and edits one cell of `editShare` of them, taken from earlier results.
    */
  final case class ParquetShape(files: Int, lead: Int, block: Int, minRows: Int, maxRows: Int,
                                pageBytes: Int, resendShare: Double, editShare: Double)

  /** Result files named `r-NNNNN.parquet` in arrival order. */
  def parquetResults(spark: SparkSession, dir: Path, seed: Long, shape: ParquetShape): Corpus = {
    Files.createDirectories(dir)
    val rng = new Random(seed)
    val kinds = schedule(rng, shape.files, shape.lead, shape.block,
      Seq(Resend -> shape.resendShare, Edit -> shape.editShare))
    val names = (0 until shape.files).map(i => f"r-$i%05d.parquet")
    val rowCounts = IndexedSeq.fill(shape.files)(
      shape.minRows + rng.nextInt(shape.maxRows - shape.minRows + 1))
    // source result of every file: itself when fresh, an earlier fresh one
    // otherwise; an edit also picks the row whose score changes
    val fresh = kinds.indices.filter(kinds(_) == Fresh)
    val source = kinds.indices.map { i =>
      if (kinds(i) == Fresh) i
      else { val earlier = fresh.takeWhile(_ < i); earlier(rng.nextInt(earlier.size)) }
    }
    val written = kinds.indices.filter(kinds(_) != Resend)
    val editRow = kinds.indices.map(i =>
      if (kinds(i) == Edit) rng.nextInt(rowCounts(source(i))) else -1)
    val df = slots(spark, written.size)
      .select(col("slot"), pick(written.map(source)).as("src"),
        pick(written.map(editRow)).as("edit_row"), pick(written.map(i => rowCounts(source(i)))).as("n"))
      .select(col("slot"), col("src"), col("edit_row"),
        explode(sequence(lit(0), col("n") - 1)).as("row"))
    val src = col("src")
    val row = col("row")
    val score = pmod(mix(seed, 13, src, row), lit(100000000L)) / 1000.0
    val rows = df.select(
      col("slot"),
      row.cast("long").as("row_id"),
      text(seed, 11, 12, src, row).as("entity"),
      element_at(array(Seq("alpha", "beta", "gamma", "delta", "eps").map(lit): _*),
        (pmod(mix(seed, 12, src, row), lit(5L)) + 1).cast("int")).as("label"),
      // same-width edit: a double replaced by another double
      when(row === col("edit_row"), score + lit(0.5)).otherwise(score).as("score"),
      pmod(mix(seed, 14, src, row), lit(1000000L)).as("count"))
    val opts = Map("parquet.page.size" -> shape.pageBytes.toString,
      "parquet.page.row.count.limit" -> "1000000")
    val out = writeParts(rows, "row_id", "parquet", opts, dir, written.map(names).toIndexedSeq)
    val byIndex = written.zip(out).toMap
    val files = kinds.indices.map { i =>
      byIndex.getOrElse(i, Files.copy(byIndex(source(i)), dir.resolve(names(i))))
    }
    Corpus(files)
  }

  // -------------------------------------------------------------- misc --

  /** SHA-1 of a file's bytes, hex. */
  def sha1Hex(p: Path): String = sha1Hex(p, Files.size(p))

  /** SHA-1 of a file's first `len` bytes, hex. */
  private def sha1Hex(p: Path, len: Long): String = {
    val md = MessageDigest.getInstance("SHA-1")
    val buf = new Array[Byte](1 << 20)
    val in = Files.newInputStream(p)
    try {
      var left = len
      var n = in.read(buf, 0, math.min(buf.length.toLong, left).toInt)
      while (n > 0) {
        md.update(buf, 0, n)
        left -= n
        n = in.read(buf, 0, math.min(buf.length.toLong, left).toInt)
      }
    } finally in.close()
    md.digest().map("%02x".format(_)).mkString
  }

  /** A file's fingerprint for [[digest]]. Parquet files are fingerprinted
    * by everything before the footer plus the footer's length: parquet-mr
    * writes each column chunk's encoding list in the iteration order of a
    * hash set of enum constants, whose identity hashes change from one JVM
    * to the next, so the footer bytes of a seed's files differ between
    * runs while their pages and every footer size stay the same.
    */
  private def fingerprint(p: Path): String =
    if (!p.getFileName.toString.endsWith(".parquet")) sha1Hex(p)
    else {
      val size = Files.size(p)
      val tail = new Array[Byte](8)
      val ch = java.nio.channels.FileChannel.open(p)
      try ch.read(java.nio.ByteBuffer.wrap(tail), size - 8) finally ch.close()
      val footer = java.nio.ByteBuffer.wrap(tail, 0, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt.toLong
      s"${sha1Hex(p, size - 8 - footer)}+$footer"
    }

  /** SHA-1 of every file, hashed on all cores, in corpus order. */
  def sha1All(c: Corpus): Seq[String] = parMap(c.files)(sha1Hex)

  private def parMap[T](files: Seq[Path])(f: Path => T): Seq[T] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      Runtime.getRuntime.availableProcessors())
    try files.map(p => pool.submit(() => f(p))).map(_.get())
    finally pool.shutdown()
  }

  /** Corpus fingerprint: SHA-1 over every (file name, [[fingerprint]])
    * pair in arrival order.
    */
  def digest(c: Corpus): String = {
    val md = MessageDigest.getInstance("SHA-1")
    c.files.zip(parMap(c.files)(fingerprint)).foreach { case (p, sha) =>
      md.update(s"${p.getFileName} $sha\n".getBytes("UTF-8"))
    }
    md.digest().map("%02x".format(_)).mkString
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally walk.close()
    }
}

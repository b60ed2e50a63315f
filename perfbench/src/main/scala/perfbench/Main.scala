package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import scala.jdk.CollectionConverters._

/** Benchmark entry point:
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * Starts a session in a fresh JVM, generates the workload's seeded inputs
  * under `work`, finishes set-up with one untimed op, primes, runs ops for
  * about `seconds`, checks the outputs, and prints a detail line and then,
  * as the last line, the result object. `--trace 1` alternates traced and untraced
  * ops, reports per-layer metrics, and writes the spans and a per-layer
  * table under `work/../trace`.
  */
object Main {

  /** End-to-end metrics, printed on every run without tracing. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "throughput_mbps" -> "MB/s", "traffic_pct" -> "%", "retained_heap_mb" -> "MB",
    "op_p50_s" -> "s")

  /** Spans whose Spark work is reported per layer. */
  val SparkSpans: Seq[String] = Seq("plan", "hash", "dedup", "stats", "recon", "wave")

  /** Per-layer metrics, printed on every traced run; a layer the workload
    * does not run reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "plan.s" -> "s", "plan.chunks" -> "count", "plan.us_per_chunk" -> "us",
    "plan.bytes_read" -> "B",
    "hash.s" -> "s", "hash.mb" -> "MB", "hash.mbps_core" -> "MB/s", "hash.floor_mbps" -> "MB/s",
    "hash.efficiency" -> "ratio", "hash.read_amp" -> "ratio",
    "dedup.s" -> "s", "dedup.chunks" -> "count", "dedup.distinct_sigs" -> "count",
    "dedup.hit_ratio" -> "ratio", "dedup.shuffle_mb" -> "MB",
    "stats.s" -> "s", "stats.rows" -> "count", "stats.stages" -> "count",
    "recon.s" -> "s", "recon.mb_written" -> "MB", "recon.shuffle_mb" -> "MB",
    "recon.spill_mb" -> "MB",
    "store.probe_s" -> "s", "store.write_s" -> "s", "store.files" -> "count",
    "store.mb" -> "MB", "store.growth" -> "ratio") ++
    SparkSpans.flatMap(l => Seq(s"$l.jobs" -> "count", s"$l.tasks" -> "count",
      s"$l.task_s" -> "s", s"$l.gc_s" -> "s", s"$l.spill_mb" -> "MB", s"$l.idle_s" -> "s")) ++
    Seq("trace.overhead_s" -> "s")

  final case class Args(workload: Workload, seed: Long, seconds: Double, trace: Boolean,
                        work: Path)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val w = Workloads.byName(need("workload")).getOrElse(sys.error(
      s"unknown workload '${need("workload")}'; one of ${Workloads.all.map(_.name).mkString(", ")}"))
    val trace = need("trace") match {
      case "0" => false
      case "1" => true
      case t   => sys.error(s"--trace must be 0 or 1, got '$t'")
    }
    Args(w, need("seed").toLong, need("seconds").toDouble, trace, Paths.get(need("work")))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = a.workload
    Files.createDirectories(a.work)

    // set-up: session start + the untimed warm-up op, both cold. A second
    // set-up in this JVM would find its classes loaded and compiled, so
    // only this one is measured. Input generation runs between the two
    // and is excluded.
    val t0 = System.nanoTime()
    val spark = session()
    val startS = (System.nanoTime() - t0) / 1e9
    val gen0 = System.nanoTime()
    val corpus = w.generate(spark, a.work.resolve("input"), a.seed)
    val digest = Inputs.digest(corpus)
    val genS = (System.nanoTime() - gen0) / 1e9
    System.err.println(f"[perfbench] inputs: ${corpus.files.size} files, ${corpus.mb}%.1f MB " +
      f"in $genS%.1f s")
    val warmDir = Files.createDirectories(a.work.resolve("warm-input"))
    val slice = Inputs.Corpus(corpus.files.take(w.warmFiles).map(f =>
      Files.createLink(warmDir.resolve(f.getFileName), f)))
    val t1 = System.nanoTime()
    w.warmUp(spark, slice, a.work.resolve("setup"))
    val setupS = startS + (System.nanoTime() - t1) / 1e9

    w.prime(spark, corpus, a.work.resolve("prime"))
    // every measured op follows the heap reading's full collections; so
    // does the first, instead of starting on the priming's garbage
    Workloads.retainedHeapMb()
    val tracer = if (a.trace) Some(new Tracer(spark.sparkContext)) else None
    val out = w.run(spark, corpus, a.work.resolve("run"), a.seconds, tracer)

    val opMedian = Workloads.median(out.opSeconds)
    val throughput = out.mbPerOp / opMedian
    val e2e = Map("setup_s" -> setupS, "throughput_mbps" -> throughput,
      "traffic_pct" -> out.trafficPct, "retained_heap_mb" -> out.retainedMb,
      "op_p50_s" -> opMedian)

    val layers = tracer.fold(Map.empty[String, Double]) { tr =>
      val l = out.layers
      val chunks = l.getOrElse("plan.chunks", 0.0)
      val full = l ++ Map(
        "plan.us_per_chunk" -> (if (chunks > 0) l("plan.s") * 1e6 / chunks else 0.0),
        "hash.floor_mbps" -> Workloads.sha1FloorMbps,
        "trace.overhead_s" -> (Workloads.median(out.tracedSeconds) - opMedian))
      writeTrace(tr, a, full)
      full
    }
    val master = spark.sparkContext.master
    spark.stop()

    val split = tracer.map(_ => splitCheck(w.name, layers))
    val detail = Map(
      "workload" -> w.name, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "corpus_digest" -> digest, "corpus_mb" -> corpus.mb, "corpus_files" -> corpus.files.size,
      "generate_s" -> genS, "session_start_s" -> startS,
      "op_s" -> out.opSeconds, "traced_op_s" -> out.tracedSeconds, "mb_per_op" -> out.mbPerOp,
      "end_to_end" -> e2e,
      "host" -> Map("nproc" -> Runtime.getRuntime.availableProcessors(),
        "spark_master" -> master,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "java" -> System.getProperty("java.version"),
        "spark" -> org.apache.spark.SPARK_VERSION,
        "sha1_floor_mbps" -> Workloads.sha1FloorMbps),
      "notes" -> out.notes) ++ split.map(s => "layer_split" -> s)
    println(Json(Map("detail" -> detail)))

    val finite = e2e.values.forall(v => !v.isNaN && !v.isInfinite)
    val metrics =
      if (a.trace) PerLayer.map { case (k, u) => k -> metric(layers.getOrElse(k, 0.0), u) }
      else EndToEnd.map { case (k, u) => k -> metric(e2e(k), u) }
    println(Json(Map(
      "correct" -> (out.failed == 0 && finite),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> scala.collection.immutable.ListMap(metrics: _*))))
  }

  private def metric(v: Double, unit: String): Map[String, Any] =
    scala.collection.immutable.ListMap("value" -> v, "unit" -> unit)

  def session(): SparkSession = graft.GraftSession.get("perfbench")

  /** Whether the traced run shows the layer split the workload was chosen
    * for.
    */
  def splitCheck(workload: String, l: Map[String, Double]): Map[String, Any] = {
    def v(k: String) = l.getOrElse(k, 0.0)
    val (rule, ok) = workload match {
      case "orc-snapshots" =>
        ("hash.s + recon.s > plan.s + dedup.s + stats.s",
          v("hash.s") + v("recon.s") > v("plan.s") + v("dedup.s") + v("stats.s"))
      case "parquet-results" =>
        ("plan.s > each of hash.s, dedup.s, stats.s",
          Seq("hash.s", "dedup.s", "stats.s").forall(k => v("plan.s") > v(k)))
      case _ =>
        ("store.write_s + wave.idle_s > plan.s + hash.s",
          v("store.write_s") + v("wave.idle_s") > v("plan.s") + v("hash.s"))
    }
    Map("rule" -> rule, "holds" -> ok)
  }

  /** Spans as JSON lines plus a per-layer table of self time and idle time,
    * under `work/../trace/<workload>-<seed>.*`.
    */
  private def writeTrace(tr: Tracer, a: Args, layers: Map[String, Double]): Unit = {
    val dir = Files.createDirectories(a.work.getParent.resolve("trace"))
    val base = s"${a.workload.name}-${a.seed}"
    val spans = tr.all
    val t0 = spans.headOption.fold(0L)(_.start)
    Files.write(dir.resolve(s"$base.spans.jsonl"), spans.map { s =>
      Json(scala.collection.immutable.ListMap("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6))
    }.asJava)
    def v(k: String) = layers.getOrElse(k, 0.0)
    val waves = spans.filter(_.name == "wave").map(_.seconds)
    val rows = Seq("plan", "hash", "dedup", "stats", "recon").map(l => (l, v(s"$l.s"), v(s"$l.idle_s"))) ++
      Seq(("store", v("store.probe_s") + v("store.write_s"), 0.0),
        ("wave", if (waves.isEmpty) 0.0 else Workloads.median(waves), v("wave.idle_s")),
        ("overhead", v("trace.overhead_s"), 0.0))
    val table = (f"${"layer"}%-8s ${"self_s"}%10s ${"idle_s"}%10s" +:
      rows.map { case (l, self, idle) => f"$l%-8s $self%10.4f $idle%10.4f" }).mkString("\n")
    Files.write(dir.resolve(s"$base.layers.txt"), (table + "\n").getBytes("UTF-8"))
    System.err.println(table)
  }
}

/** Minimal JSON encoder for the harness's own output. */
object Json {
  def apply(v: Any): String = v match {
    case null                      => "null"
    case s: String                 => quote(s)
    case b: Boolean                => b.toString
    case d: Double                 => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float                  => apply(f.toDouble)
    case n: Int                    => n.toString
    case n: Long                   => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}: ${apply(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_]           => xs.map(apply).mkString("[", ", ", "]")
    case o                         => quote(o.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c    => b += c
    }
    b += '"'
    b.toString
  }
}

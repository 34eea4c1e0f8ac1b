package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, one JVM per phase:
  *
  *  - `fit` fits the models a workload serves (once per build);
  *  - `measure` starts from a fresh JVM: set-up (with seeded input
  *    generation, which is not timed), the first run, then warm runs in
  *    a closed loop (one client, one job at a time) for the given
  *    seconds, checking every output. With `--trace 1` it alternates
  *    untraced and traced runs and reports per-layer numbers;
  *  - `self-test` shows each output check rejecting a corrupted output.
  *
  * Each phase prints one JSON object as its last line of standard output. */
object Main {

  private final case class Opts(phase: String, workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, models: String, spans: String, cores: Int, launchMs: Long)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("phase"), m.getOrElse("workload", ""), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1", m("work"),
      m.getOrElse("models", s"${m("work")}/models"), m.getOrElse("spans", m("work")),
      m("cores").toInt,
      m.getOrElse("launch-ms", System.currentTimeMillis.toString).toLong)
  }

  private def session(o: Opts): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  private def stop(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  private def seconds[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Set-up time: JVM launch to a ready session, plus registering the
    * inputs (their generation in between is not counted). */
  private def freshSetup(o: Opts, w: Workload, sessionReadyMs: Long, spark: SparkSession): Double =
    (sessionReadyMs - o.launchMs) / 1e3 + seconds(w.register(spark))._2

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    Files.createDirectories(Paths.get(o.work))
    o.phase match {
      case "fit" => fit(o)
      case "measure" => measure(o)
      case "self-test" => selfTest(o)
      case p => throw new IllegalArgumentException(s"unknown phase '$p'")
    }
  }

  /** Fits the workload's models, when this build has none yet. */
  private def fit(o: Opts): Unit = {
    val spark = session(o)
    val w = Workloads(o.workload)
    val (_, s) = seconds(w.fit(spark, o.models))
    log(f"fitted ${o.workload} models in $s%.2fs")
    stop(spark)
    println(s"""{"fitted":"${o.workload}"}""")
  }

  private final case class Sample(wallS: Double, cpuS: Double, heapMb: Double, records: Long)

  /** The heap pools that hold what a run retains: the old generation and
    * the survivor spaces. Eden is left out: the young generation has a
    * fixed size, and any run allocating more than it fills eden to the
    * same peak. */
  private val retainingPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && !p.getName.contains("Eden"))
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  /** One untraced run: wall time, process CPU time, and the summed peaks
    * of the retaining heap pools (reset after a full GC, so each run
    * starts from the same live set). */
  private def sampled(spark: SparkSession, w: Workload, out: String): Sample = {
    System.gc()
    retainingPools.foreach(_.resetPeakUsage())
    val cpu0 = os.getProcessCpuTime
    val (records, wall) = seconds(w.run(spark, out))
    val cpu = (os.getProcessCpuTime - cpu0) / 1e9
    Sample(wall, cpu, retainingPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0), records)
  }

  private def measure(o: Opts): Unit = {
    val spark = session(o)
    val ready = System.currentTimeMillis
    val w = Workloads(o.workload)
    require(w.fitted(o.models), s"${o.workload}: no fitted models under ${o.models}")
    val (_, prepS) = seconds(w.prepare(spark, s"${o.work}/inputs", o.models, o.seed))
    val setup = freshSetup(o, w, ready, spark)
    log(f"generated inputs in $prepS%.2fs, set-up $setup%.2fs")
    var attempted = 0
    val failures = Seq.newBuilder[String]
    var run = 0
    def nextOut(): String = { run += 1; s"${o.work}/out/run-$run" }
    def verdict[T](out: String, r: Either[String, T], records: T => Long): Option[T] = {
      attempted += 1
      r.flatMap(x => w.check(spark, out, records(x)).toLeft(x)) match {
        case Left(why) => failures += s"run $run: $why"; None
        case Right(x) => Some(x)
      }
    }
    def attempt[T](f: => T): Either[String, T] =
      try Right(f) catch { case e: Exception => Left(e.toString) }

    // First run: the job's first in this JVM (only input generation ran
    // before it); its output is checked once the check's expectations
    // are computed.
    val firstOut = nextOut()
    val first = attempt(sampled(spark, w, firstOut))
    log(s"first run $first")
    log(f"expectations in ${seconds(w.expect(spark))._2}%.2fs")
    val firstOk = verdict[Sample](firstOut, first, _.records).isDefined

    val warm = Seq.newBuilder[(Sample, Long)]
    val untraced = Seq.newBuilder[Double]
    val layers = Seq.newBuilder[LayerStats]
    val tracer = if (o.trace) new Tracer(spark) else null
    val minRuns = if (o.trace) 1 else 2
    val t0 = System.nanoTime()
    var n = 0
    while (n < minRuns || ((System.nanoTime() - t0) / 1e9 < o.seconds && n < 200)) {
      n += 1
      val out = nextOut()
      verdict[Sample](out, attempt(sampled(spark, w, out)), _.records).foreach { s =>
        log(s"run $run: $s")
        if (o.trace) untraced += s.wallS else warm += ((s, w.outputBytes(out)))
      }
      if (o.trace) {
        val tout = nextOut()
        verdict[LayerStats](tout, attempt(w.traced(spark, tracer, tout)), _.records)
          .foreach { l => log(f"traced run $run: ${l.wallS}%.2fs, prefixes ${l.prefixS}%.2fs"); layers += l }
      }
      deleteTree(Paths.get(o.work, "out"))
    }
    if (tracer != null) {
      Files.createDirectories(Paths.get(o.spans))
      Files.writeString(Paths.get(o.spans, s"${o.workload}-${o.seed}.json"), tracer.spansJson)
      tracer.close()
    }
    stop(spark)

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val ws = warm.result()
        def med(f: ((Sample, Long)) => Double) = Workloads.median(ws.map(f))
        Seq(
          ("setup_s", setup, "s"),
          ("first_run_s", first.fold(_ => Double.NaN, _.wallS), "s"),
          ("wall_s", med(_._1.wallS), "s"),
          ("rows_per_s", w.inputRows / med(_._1.wallS), "rows/s"),
          ("cpu_s", med(_._1.cpuS), "s"),
          ("output_bytes", med(_._2.toDouble), "bytes"),
          ("heap_peak_mb", med(_._1.heapMb), "MB"),
          ("success_rate", 1.0 - failures.result().size.toDouble / math.max(attempted, 1), "ratio"))
      } else {
        val ls = layers.result()
        def med(f: LayerStats => Double) = Workloads.median(ls.map(f))
        val untracedWall = Workloads.median(untraced.result())
        Layers.metrics.map { case (name, unit) =>
          val v = name match {
            case "trace.wall_s" => med(_.wallS)
            case "trace.untraced_wall_s" => untracedWall
            case "trace.overhead_s" => med(_.wallS) - untracedWall
            case "trace.unattributed_s" => med(_.unattributedS)
            case "trace.prefix_s" => med(_.prefixS)
            case _ => med(_.values.getOrElse(name, 0.0))
          }
          (name, v, unit)
        }
      }
    val failed = failures.result()
    failed.foreach(f => log(s"FAILED $f"))
    log(f"${o.workload} seed ${o.seed}: ${attempted - failed.size}/$attempted " +
      f"runs correct, error_rate ${failed.size.toDouble / math.max(attempted, 1)}%.4f")
    val ok = failed.isEmpty && firstOk && metrics.forall(m => !m._2.isNaN && !m._2.isInfinite)
    println(Json.result(ok, attempted, failed.size, metrics))
  }

  /** Shows, per workload, that its check accepts a real output and
    * rejects the same output with one feature value flipped and with one
    * record dropped. */
  private def selfTest(o: Opts): Unit = {
    val spark = session(o)
    val w = Workloads(o.workload)
    w.fit(spark, o.models)
    w.prepare(spark, s"${o.work}/inputs", o.models, o.seed)
    w.register(spark)
    val out = s"${o.work}/out/real"
    val records = w.run(spark, out)
    w.expect(spark)
    val (dir, feature) = w.corruptible(out)
    val pristine = s"${o.work}/pristine"
    copyTree(Paths.get(dir), Paths.get(pristine))
    def verdict(corruption: String): Option[String] = {
      deleteTree(Paths.get(dir))
      copyTree(Paths.get(pristine), Paths.get(dir))
      if (corruption != "none") SelfTest.corrupt(dir, feature, corruption)
      // A read workload's output is what it reads: run it again.
      val n = if (dir == out) records else w.run(spark, out)
      w.check(spark, out, n)
    }
    val cases = Seq("none", "flip", "drop", "none").map(c => c -> verdict(c))
    stop(spark)
    val ok = cases.forall { case (c, v) => (c == "none") == v.isEmpty }
    cases.foreach { case (c, v) =>
      val what = c match {
        case "none" => "real output"
        case "flip" => s"one $feature value flipped"
        case _ => s"one record with $feature dropped"
      }
      log(s"self-test ${o.workload} $what: " +
        v.fold("accepted")(why => s"rejected ($why)"))
    }
    println(s"""{"self_test":"${o.workload}","ok":$ok,"cases":{""" +
      cases.map { case (c, v) => s""""$c":"${if (v.isEmpty) "accepted" else "rejected"}"""" }
        .distinct.mkString(",") + "}}")
    if (!ok) sys.exit(1)
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).forEach { f =>
      Files.copy(f, to.resolve(from.relativize(f)), StandardCopyOption.REPLACE_EXISTING)
    }
}

/** Output corruption for the self-test, with the benchmark's own codec. */
object SelfTest {
  import Codec._

  private def read(f: File): Vector[Array[Byte]] = {
    val in = new java.io.FileInputStream(f)
    try records(in).toVector finally in.close()
  }

  private def flip(f: Feature): Feature = f match {
    case I64(vs) => I64(vs.updated(0, vs.head + 1))
    case F32(bs) => F32(bs.updated(0, bs.head ^ 1))
    case Bs(vs) => Bs(vs.updated(0, vs.head :+ 'x'.toByte))
    case NoValue => NoValue
  }

  /** In the first shard with a record carrying `feature`: flip that
    * record's first value of it, or drop the record. */
  def corrupt(dir: String, feature: String, how: String): Unit = {
    def has(r: Array[Byte]) = show(decode(r).getOrElse(feature, NoValue)) != "-"
    val target = Workloads.tfrecordFiles(new File(dir)).sortBy(_.getPath)
      .find(f => read(f).exists(has)).getOrElse(sys.error(s"no record carries $feature"))
    val recs = read(target)
    val i = recs.indexWhere(has)
    val changed =
      if (how == "drop") recs.patch(i, Nil, 1)
      else recs.updated(i, encode(decode(recs(i)).updatedWith(feature)(_.map(flip))))
    val out = new java.io.FileOutputStream(target)
    try writeRecords(out, changed.iterator) finally out.close()
    // The Hadoop local file system would otherwise refuse the edited
    // shard on its stale checksum before any check saw it.
    new File(target.getParentFile, s".${target.getName}.crc").delete()
  }
}

/** The per-layer metric table, in the order `BENCHMARK.json` lists it.
  * A (layer, metric) pair that was zero on every workload is left out:
  * `spill_bytes` everywhere, shuffles of layers that do not shuffle,
  * and build jobs of calls that start none. */
object Layers {
  private val timing = Seq("self_s", "task_cpu_s", "build_s")
  private val rows = Seq("rows_in", "rows_out")
  private val shuffles = Seq("shuffle_bytes", "shuffle_blocks")
  private val spec: Seq[(String, Seq[String])] = Seq(
    "registry" -> Seq("self_s"),
    "sources" -> (timing ++ Seq("build_jobs") ++ rows),
    "join.pit" -> (timing ++ Seq("build_jobs") ++ shuffles ++ rows ++
      Seq("candidates_per_row", "feature_hit_rate")),
    "join.label" -> (timing ++ Seq("build_jobs") ++ shuffles ++ rows :+ "hit_rate"),
    "transforms.clean_text" -> (timing ++ rows),
    "transforms.quality_filter" -> (timing ++ rows :+ "keep_ratio"),
    "transforms.dedup_exact" -> (timing ++ shuffles ++ rows :+ "keep_ratio"),
    "transforms.lm_filter_against" -> (timing ++ Seq("build_jobs") ++ shuffles ++ rows :+ "keep_ratio"),
    "transforms.tokenize_against" -> (timing ++ Seq("build_jobs") ++ shuffles ++ rows),
    "transforms.pack_sequences" -> (timing ++ shuffles ++ rows),
    "encode" -> (timing ++ rows),
    "io.write" -> (Seq("self_s", "task_cpu_s") ++ rows ++ Seq("files", "bytes_per_record")),
    "run.manifest" -> Seq("self_s"),
    "io.read" -> (timing ++ shuffles :+ "rows_out"),
    "encode.decode" -> (Seq("self_s", "task_cpu_s") ++ rows))
  private val trace = Seq("trace.wall_s", "trace.untraced_wall_s", "trace.overhead_s",
    "trace.unattributed_s", "trace.prefix_s")

  def unit(metric: String): String = metric match {
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_bytes") || m.endsWith("bytes_per_record") => "bytes"
    case m if m.endsWith("rows_in") || m.endsWith("rows_out") => "rows"
    case m if m.endsWith("_jobs") || m.endsWith("_blocks") || m.endsWith("files") => "count"
    case _ => "ratio"
  }

  val metrics: Seq[(String, String)] =
    (spec.flatMap { case (l, ms) => ms.map(m => s"$l.$m") } ++ trace).map(n => n -> unit(n))
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s""""$n":{"value":${num(v)},"unit":"$u"}""" }
      .mkString(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{""", ",", "}}")
}

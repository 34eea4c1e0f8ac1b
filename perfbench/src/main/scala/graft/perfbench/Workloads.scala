package graft.perfbench

import java.io.File

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.encode.TfExample
import graft.io.TfRecordSource
import graft.registry.YamlRegistry
import graft.run.{JobConfig, Runner, SplitResult, Transforms}

/** What one traced iteration measured, per layer. */
final case class LayerStats(values: Map[String, Double], wallS: Double, unattributedS: Double,
    prefixS: Double, records: Long)

/** One benchmark workload: seeded inputs, a job, and a check of the
  * job's output that shares no code with the layers the job runs. */
trait Workload {
  /** Fit the models the job serves into `models`, if they are not there:
    * once per build of the program, in a JVM of its own. */
  def fit(spark: SparkSession, models: String): Unit = ()
  def fitted(models: String): Boolean = true
  /** Generate seeded inputs under `dir`. Not part of any timed metric. */
  def prepare(spark: SparkSession, dir: String, models: String, seed: Long): Unit
  /** Make the inputs visible to a fresh session: the timed tail of
    * `setup_s`. */
  def register(spark: SparkSession): Unit
  /** Input rows one run consumes. */
  def inputRows: Long
  /** One job, from inputs to complete outputs under `out`; returns the
    * records produced. */
  def run(spark: SparkSession, out: String): Long
  /** Compute what checks compare against; called after the first run,
    * so that no job of the program runs before it. */
  def expect(spark: SparkSession): Unit
  /** None when the output of a run is correct, else the reason. */
  def check(spark: SparkSession, out: String, records: Long): Option[String]
  /** Bytes the run wrote (or, for a read workload, read). */
  def outputBytes(out: String): Long
  /** One traced run: prefix materializations, then the job call by call. */
  def traced(spark: SparkSession, tr: Tracer, out: String): LayerStats
  /** Where the self-test may corrupt output: the directory holding the
    * TFRecord splits a check reads, and the feature it flips. */
  def corruptible(out: String): (String, String)
}

object Workloads {
  def apply(name: String): Workload = name match {
    case "pit_export" => new PitExport
    case "corpus_export" => new CorpusExport
    case "examples_scan" => new ExamplesScan
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def tfrecordFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) tfrecordFiles(f)
      else if (f.getName.endsWith(".tfrecord.gz")) Seq(f) else Nil
    }

  def bytesUnder(dir: String): Long = tfrecordFiles(new File(dir)).map(_.length).sum

  /** Decode every record of every split under `dir` with the benchmark's
    * own codec, in Spark tasks, and fold each shard with `f`. Returns one
    * value per shard with its split (directory) name. */
  def scanShards[T: scala.reflect.ClassTag](spark: SparkSession, dir: String)(
      f: Iterator[Codec.Example] => T): Seq[(String, T)] = {
    val files = tfrecordFiles(new File(dir)).map(_.getAbsolutePath)
    if (files.isEmpty) return Nil
    spark.sparkContext.parallelize(files, math.min(files.size, 64)).map { p =>
      val in = new java.io.FileInputStream(p)
      try (new File(p).getParentFile.getName, f(Codec.records(in).map(Codec.decode)))
      finally in.close()
    }.collect().toSeq
  }

  /** Models are fitted on a fixed reference corpus, once per build of
    * the program: the deployment shape (fit once, serve many batches),
    * and it keeps fitting out of every run's set-up. */
  val ReferenceSeed = 0L

  def isFitted(dir: String): Boolean = new File(dir, "_FITTED").exists

  def cached(dir: String)(fit: String => Unit): Unit =
    if (!isFitted(dir)) {
      val tmp = new File(s"$dir.tmp")
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      org.apache.commons.io.FileUtils.deleteDirectory(new File(dir))
      fit(tmp.getPath)
      require(tmp.renameTo(new File(dir)), s"cannot move $tmp to $dir")
      new File(dir, "_FITTED").createNewFile()
    }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Shared shape of the `Runner` jobs: registry YAML, entity SQL,
  * a transform chain and weighted output splits. The untraced run is
  * `Runner.run`; the traced run makes the same public calls one by one. */
abstract class RunnerJob extends Workload {
  protected var dataDir: String = _
  protected def locate(dir: String): Unit = dataDir = s"$dir/data"
  protected def registryYaml: String
  protected def entitySql: String
  protected def features: Either[Seq[String], String]
  protected def transforms: String
  protected def splits: Seq[(String, Int)]

  protected def job(out: String): JobConfig = JobConfig(
    registry = YamlRegistry.load(registryYaml),
    dataDir = dataDir,
    features = features,
    entityQuery = entitySql,
    outputSplits = splits,
    outputPath = out,
    fullFeatureNames = true,
    transforms = Transforms.parse(transforms))

  def register(spark: SparkSession): Unit = {
    Runner.registerTables(spark, dataDir)
    YamlRegistry.load(registryYaml)
  }

  def run(spark: SparkSession, out: String): Long = Runner.run(spark, job(out)).map(_.records).sum

  def outputBytes(out: String): Long = Workloads.bytesUnder(out)

  def corruptible(out: String): (String, String) = (out, flipFeature)
  protected def flipFeature: String

  private def hasViews = features.fold(_.nonEmpty, _ => true)

  /** Extra per-row observations on a layer's prefix: the hit-rate
    * numerators of the as-of layers. */
  private def observations(layer: String, before: Seq[String], df: DataFrame): Seq[(String, Column)] =
    if (layer == "join.pit" || layer == "join.label")
      df.columns.toSeq.filterNot(before.contains).map(c => c -> col(s"`$c`").isNotNull)
    else Nil

  private def layerOf(t: Transforms.TransformSpec): String =
    if (t.name == "forward_label") "join.label" else s"transforms.${t.name}"

  def traced(spark: SparkSession, tr: Tracer, out: String): LayerStats = {
    val run = tr.nextRun()
    val cfg = job(out)
    val retrieveLayer = if (hasViews) "join.pit" else "sources"
    // Pass A: the job up to each layer, built afresh and written to the
    // noop sink. Fresh frames keep a lazy checkpoint an earlier prefix
    // filled from making a later prefix look cheaper than it is.
    val steps: Seq[(String, DataFrame => DataFrame)] =
      (if (hasViews) Seq[(String, DataFrame => DataFrame)](
        "sources" -> (_ => { Runner.registerTables(spark, dataDir); spark.sql(entitySql) }))
      else Nil) ++
        Seq[(String, DataFrame => DataFrame)](retrieveLayer -> (_ => Runner.retrieve(spark, cfg, entitySql))) ++
        cfg.transforms.map(t => layerOf(t) -> ((d: DataFrame) => Transforms.apply(d, t))) :+
        ("encode" -> ((d: DataFrame) => Runner.encode(d, cfg.outputFormat).toDF("payload")))
    val buildA = collection.mutable.Map.empty[String, (Double, Work)]
    var cols = Seq.empty[String]
    val pre = steps.indices.map { k =>
      val (layer, build) = steps(k)
      val upstream = tr.inGroup(s"A$run:$layer:upstream") {
        steps.take(k).foldLeft(null: DataFrame)((d, st) => st._2(d))
      }
      val g = s"A$run:build:$layer"
      val (df, s) = tr.span(g)(build(upstream))
      buildA(layer) = (s.seconds, tr.work(g))
      val p = tr.materialize(df, s"A$run:$layer", observations(layer, cols, df))
      val before = cols
      cols = df.columns.toSeq
      (layer, p, before)
    }

    // Pass B: the job itself, one span per public call, fresh frames.
    val builds = collection.mutable.LinkedHashMap.empty[String, (Double, Work)]
    def call[T](layer: String)(f: => T): T = {
      val g = s"B$run:$layer"
      val (r, s) = tr.span(layer, g)(f)
      builds(layer) = (s.seconds, tr.work(g))
      r
    }
    val ((results, payloadRows), root) = tr.span("job", s"B$run:job") {
      val c = call("registry")(job(out))
      val j = call(retrieveLayer)(Runner.retrieve(spark, c, entitySql))
      val t = c.transforms.foldLeft(j)((d, t) => call(layerOf(t))(Transforms.apply(d, t)))
      val payloads = call("encode")(Runner.encode(t, c.outputFormat))
      val rs: Seq[SplitResult] = call("io.write")(Runner.writeSplits(payloads, c.outputSplits, out))
      call("run.manifest")(Runner.writeManifest(spark, out, c, rs))
      (rs, pre.last._2.rows)
    }

    val v = collection.mutable.LinkedHashMap.empty[String, Double]
    def put(layer: String, self: Double, w: Work, buildS: Double, buildJobs: Long,
        rowsIn: Long, rowsOut: Long): Unit = {
      v(s"$layer.self_s") = self; v(s"$layer.task_cpu_s") = w.cpuS
      v(s"$layer.build_s") = buildS; v(s"$layer.build_jobs") = buildJobs.toDouble
      v(s"$layer.shuffle_bytes") = w.shuffleBytes.toDouble
      v(s"$layer.shuffle_blocks") = w.shuffleBlocks.toDouble
      v(s"$layer.rows_in") = rowsIn.toDouble; v(s"$layer.rows_out") = rowsOut.toDouble
    }
    v("registry.self_s") = builds("registry")._1
    var prev: Option[Prefix] = None
    pre.foreach { case (layer, p, before) =>
      val (bS, bW) = builds.getOrElse(layer, (0.0, Work()))
      val (buildS, buildW) = if (builds.contains(layer)) (bS, bW) else buildA(layer)
      val share = p.wallS - prev.fold(0.0)(_.wallS)
      val w = bW + p.work - prev.fold(Work())(_.work)
      put(layer, bS + share, w, buildS, buildW.jobs, prev.fold(p.rows)(_.rows), p.rows)
      if (layer == "join.pit") {
        v("join.pit.candidates_per_row") = p.joinRows.toDouble / math.max(p.rows, 1)
        val added = p.observed.size
        v("join.pit.feature_hit_rate") = p.observed.values.sum.toDouble / math.max(p.rows * added, 1)
      }
      if (layer == "join.label")
        v("join.label.hit_rate") = p.observed.values.sum.toDouble / math.max(p.rows * p.observed.size, 1)
      if (Set("transforms.quality_filter", "transforms.dedup_exact", "transforms.lm_filter_against")(layer))
        v(s"$layer.keep_ratio") = p.rows.toDouble / math.max(prev.fold(p.rows)(_.rows), 1)
      prev = Some(p)
    }
    val last = pre.last._2
    val (writeS, writeW) = builds("io.write")
    val records = results.map(_.records).sum
    put("io.write", writeS - last.wallS, writeW - last.work, 0, 0, payloadRows, records)
    v("io.write.files") = Workloads.tfrecordFiles(new File(out)).size.toDouble
    v("io.write.bytes_per_record") = outputBytes(out).toDouble / math.max(records, 1)
    v("run.manifest.self_s") = builds("run.manifest")._1
    val attributed = v.collect { case (k, x) if k.endsWith(".self_s") => x }.sum
    LayerStats(v.toMap, root.seconds, root.seconds - attributed, pre.map(_._2.wallS).sum, records)
  }
}

/** The paper's job: entity spine → point-in-time join against four
  * registry views → forward label → tf.Example → three TFRecord splits,
  * with no `entityRowId`, so the synthetic-id spine is materialized. */
final class PitExport extends RunnerJob {
  private val Customers = 6000
  private val Orders = 60000
  private val SpineRows = 30000
  private var spineRows = 0L

  /** (view, table, entity key, timestamp, TTL seconds, features). */
  private val views = Seq(
    ("orders_90d", "orders", "o_custkey", "o_orderdate", Some(90L * 86400),
      Seq("o_totalprice", "o_orderstatus")),
    ("orders_365d", "orders", "o_custkey", "o_orderdate", Some(365L * 86400),
      Seq("o_totalprice", "o_orderpriority")),
    ("customer", "customer", "c_custkey", Runner.StaticTimestamp, None,
      Seq("c_acctbal", "c_mktsegment", "c_nationkey")),
    ("lineitem_30d", "cust_lineitem_daily", "o_custkey", "day_ts", Some(30L * 86400),
      Seq("li_lines", "li_qty", "li_revenue")))
  private val Horizon = 30L * 86400

  protected def registryYaml: String = views.map { case (v, t, k, ts, ttl, fs) =>
    s"""  - name: $v
       |    source: $t.parquet
       |    entities: [$k]
       |    timestamp: $ts
       |${ttl.fold("")(s => s"    ttlSeconds: $s\n")}    features: [${fs.mkString(", ")}]
       |""".stripMargin
  }.mkString("project: perfbench\nviews:\n", "", "")
  protected val entitySql =
    "SELECT req_id, o_custkey, o_custkey AS c_custkey, event_timestamp FROM spine"
  protected def features = Left(views.flatMap { case (v, _, _, _, _, fs) => fs.map(f => s"$v:$f") })
  protected def transforms =
    s"forward_label(source=$dataDir/orders.parquet,ts=event_timestamp,source_ts=o_orderdate," +
      s"keys=o_custkey:o_custkey,features=o_totalprice,horizon=$Horizon,id=req_id," +
      "keep_ts=true,prefix=next)"
  protected val splits = Seq("train" -> 8, "eval" -> 1, "test" -> 1)
  protected val flipFeature = "orders_365d__o_totalprice"

  def inputRows: Long = spineRows

  def prepare(spark: SparkSession, dir: String, models: String, seed: Long): Unit = {
    locate(dir)
    Inputs.featureStore(spark, dataDir, seed, Customers, Orders, SpineRows)
    spineRows = SpineRows
  }

  /** The point-in-time contract as plain SQL: for each spine row and
    * view, the candidate with the latest timestamp inside the TTL
    * (greatest feature values on ties), by ROW_NUMBER; the label is the
    * earliest order inside the horizon. No `graft.join` code. */
  private def oracleSql: String = {
    val ranked = views.filter(_._5.nonEmpty).map { case (v, t, k, ts, ttl, fs) =>
      s"""$v AS (SELECT s.req_id, ${fs.map(f => s"x.$f AS ${v}__$f").mkString(", ")},
         |  ROW_NUMBER() OVER (PARTITION BY s.req_id
         |    ORDER BY x.$ts DESC, ${fs.map(f => s"x.$f DESC").mkString(", ")}) AS rn
         |  FROM spine s JOIN $t x ON x.$k = s.o_custkey
         |   AND x.$ts <= s.event_timestamp
         |   AND x.$ts >= s.event_timestamp - INTERVAL ${ttl.get} SECONDS)""".stripMargin
    } :+
      s"""nxt AS (SELECT s.req_id, x.o_totalprice AS next__o_totalprice,
         |  x.o_orderdate AS next__o_orderdate,
         |  ROW_NUMBER() OVER (PARTITION BY s.req_id
         |    ORDER BY x.o_orderdate ASC, x.o_totalprice ASC) AS rn
         |  FROM spine s JOIN orders x ON x.o_custkey = s.o_custkey
         |   AND x.o_orderdate >= s.event_timestamp
         |   AND x.o_orderdate <= s.event_timestamp + INTERVAL $Horizon SECONDS)""".stripMargin
    val picked = views.filter(_._5.nonEmpty).map(_._1) :+ "nxt"
    val cust = views.find(_._5.isEmpty).get
    s"""WITH ${ranked.mkString(",\n")}
       |SELECT s.req_id, s.o_custkey, s.o_custkey AS c_custkey, s.event_timestamp,
       |  ${cust._6.map(f => s"c.$f AS ${cust._1}__$f").mkString(", ")},
       |  ${picked.map(p => s"$p.* EXCEPT (req_id, rn)").mkString(", ")}
       |FROM spine s
       |LEFT JOIN ${cust._2} c ON c.${cust._3} = s.o_custkey
       |${picked.map(p => s"LEFT JOIN (SELECT * FROM $p WHERE rn = 1) $p ON $p.req_id = s.req_id").mkString("\n")}
       |""".stripMargin
  }

  private var expected: (Long, Long) = _

  def expect(spark: SparkSession): Unit = {
    // The oracle reads the generated tables with plain Spark, not with
    // the program's table registration.
    Seq("spine", "orders", "customer", "cust_lineitem_daily").foreach { t =>
      spark.read.parquet(s"$dataDir/$t.parquet").createOrReplaceTempView(t)
    }
    val df = spark.sql(oracleSql)
    val schema = df.schema
    val sums = df.queryExecution.toRdd.mapPartitions { rows =>
      var n = 0L; var h = 0L
      rows.foreach { r =>
        n += 1; h += Codec.hash(Expected.example(schema, r))
      }
      Iterator((n, h))
    }.collect()
    expected = (sums.map(_._1).sum, sums.map(_._2).sum)
  }

  def check(spark: SparkSession, out: String, records: Long): Option[String] = {
    val shards = Workloads.scanShards(spark, out) { it =>
      var n = 0L; var h = 0L
      it.foreach { ex => n += 1; h += Codec.hash(ex) }
      (n, h)
    }
    val perSplit = shards.groupMapReduce(_._1)(_._2._1)(_ + _)
    val n = shards.map(_._2._1).sum
    val h = shards.map(_._2._2).sum
    if (perSplit.keySet != splits.map(_._1).toSet) Some(s"splits ${perSplit.keySet}")
    else if (n != spineRows || records != spineRows)
      Some(s"split counts sum to $n (reported $records), spine has $spineRows")
    else if ((n, h) != expected) Some(s"feature checksum $h != oracle ${expected._2}")
    else None
  }
}

/** Feature-less corpus preparation: clean, quality gate, exact dedup,
  * an order-5 Kneser-Ney perplexity gate against a persisted model,
  * BPE tokenization and sequence packing. The documents arrive as a
  * batch that mixes documents the language model was fitted on with
  * replica-amplified new ones, whose letter-substituted replicas use
  * words the model has never seen. */
final class CorpusExport extends RunnerJob {
  private val BaseDocs = 600
  private val Replicas = 4
  private val ReferenceDocs = 1000
  private val FittedDocs = 300
  /** Seeded documents are numbered from here, clear of the reference ids. */
  private val FirstNewId = 100000000L
  /** Keeps the fitted documents and the unsubstituted replica (about a
    * third of the batch); drops the replicas whose words are unseen. */
  private val MaxCrossEntropy = 8.0
  private val MaxLen = 256
  private val MinTokens = 5
  private val Buckets = 8
  private var models: String = _
  private var docs = 0L
  private var expectedTokens: (Long, Long) = _

  protected val registryYaml = "project: perfbench\nviews: []\n"
  protected val entitySql = "SELECT doc_id, text FROM documents"
  protected val features = Left(Seq.empty)
  protected def transforms =
    "clean_text(cols=text);" +
      s"quality_filter(col=text,min_tokens=$MinTokens);" +
      "dedup_exact(key=doc_id,col=text);" +
      s"lm_filter_against(key=doc_id,col=text,model=$models/kn5,max_ce=$MaxCrossEntropy);" +
      s"tokenize_against(key=doc_id,col=text,model=$models/bpe,family=bpe);" +
      s"pack_sequences(key=doc_id,col=tokens,max_len=$MaxLen,buckets=$Buckets)"
  protected val splits = Seq("train" -> 2, "eval" -> 1)
  protected val flipFeature = "tokens"

  def inputRows: Long = docs

  private def amplified(spark: SparkSession, seed: Long, firstId: Long) = graft.tools.Amplify.documents(
    Inputs.documents(spark, seed, BaseDocs, firstId), Replicas, rotate = true)

  private def reference(spark: SparkSession) =
    Inputs.documents(spark, Workloads.ReferenceSeed, ReferenceDocs)

  override def fitted(models: String): Boolean =
    Workloads.isFitted(s"$models/bpe") && Workloads.isFitted(s"$models/kn5")

  /** BPE rules come from the amplified reference documents, so every
    * replica's alphabet has merges. The flat kn5 model is fitted on the
    * reference documents gadget-enriched: plain synthetic text lacks the
    * count-of-counts decay order-5 discounts need. */
  override def fit(spark: SparkSession, models: String): Unit = {
    Workloads.cached(s"$models/bpe") { d =>
      graft.ops.Bpe.saveRules(graft.ops.Bpe.train(
        amplified(spark, Workloads.ReferenceSeed, 0)
          .select(graft.ops.TextOps.normalized(col("text")).as("text")),
        "text", nMerges = 300), d, spark)
    }
    Workloads.cached(s"$models/kn5") { d =>
      graft.ops.LanguageModel.saveKn5Model(graft.ops.LanguageModel.fitKn5(
        reference(spark).withColumn("text", graft.queries.PipelineQueries.kn5GadgetEnrich), "text"), d)
    }
  }

  def prepare(spark: SparkSession, dir: String, models: String, seed: Long): Unit = {
    locate(dir); this.models = models
    // A seeded window of consecutive reference documents.
    val first = Math.floorMod(seed * 7919L, (ReferenceDocs - FittedDocs + 1).toLong)
    val fitted = reference(spark)
      .filter(col("doc_id") >= first && col("doc_id") < first + FittedDocs)
      .select("doc_id", "text", "lang", "source")
    fitted.unionByName(amplified(spark, seed, FirstNewId))
      .write.mode("overwrite").parquet(s"$dataDir/documents.parquet")
    docs = FittedDocs + BaseDocs.toLong * Replicas
  }

  /** Token count and token-multiset hash of the documents the chain must
    * keep, tokenized by the benchmark's own BPE segmenter. */
  def expect(spark: SparkSession): Unit = {
    val kept = expectedSurvivors(spark).cache()
    val rules = spark.read.parquet(s"$models/bpe").orderBy("rank").collect()
      .map(r => (r.getAs[String]("lhs"), r.getAs[String]("rhs")))
    val sums = kept.select("norm").as(Encoders.STRING).mapPartitions { texts =>
      val seg = new Segmenter(rules)
      var n = 0L; var h = 0L
      texts.foreach(_.split(" ").foreach(w => seg(w).foreach { t =>
        n += 1; h += MurmurHash3.stringHash(t)
      }))
      Iterator((n, h))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    kept.unpersist()
    expectedTokens = (sums.map(_._1).sum, sums.map(_._2).sum)
  }

  /** The documents every gate of the chain must keep, with their
    * normalized text, derived without the program's code: clean_text,
    * quality_filter and dedup_exact as plain Spark expressions of their
    * documented contracts, and the kn5 gate from how the batch was
    * generated: it keeps the documents the model was fitted on and the
    * unsubstituted replica, and drops every letter-substituted replica. */
  private def expectedSurvivors(spark: SparkSession): DataFrame = {
    val cleaned = trim(regexp_replace(regexp_replace(
      regexp_replace(col("text"), "https?://[^\\s]+", " "),
      "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""), "\\s+", " "))
    spark.read.parquet(s"$dataDir/documents.parquet")
      .select(col("doc_id"), trim(regexp_replace(lower(cleaned), "\\s+", " ")).as("norm"))
      .filter(size(split(col("norm"), " ")) >= MinTokens)
      .groupBy("norm").agg(min("doc_id").as("doc_id"))
      .filter(col("doc_id") < FirstNewId + graft.tools.Amplify.IdOffset)
  }

  def check(spark: SparkSession, out: String, records: Long): Option[String] = {
    val maxLen = MaxLen
    val shards = Workloads.scanShards(spark, out) { it =>
      var recs = 0L; var n = 0L; var h = 0L; var short = 0L; var bad = 0L
      it.foreach { ex =>
        val toks = ex.get("tokens") match {
          case Some(Codec.Bs(vs)) => vs.map(new String(_, "UTF-8"))
          case _ => Nil
        }
        recs += 1; n += toks.size
        toks.foreach(t => h += MurmurHash3.stringHash(t))
        if (toks.size < maxLen) short += 1
        if (toks.size > maxLen || !ex.get("n_tokens").contains(Codec.I64(Seq(toks.size.toLong))))
          bad += 1
      }
      Seq(recs, n, h, short, bad)
    }
    val Seq(recs, n, h, short, bad) = shards.map(_._2).transpose.map(_.sum) match {
      case Seq() => Seq(0L, 0L, 0L, 0L, 0L)
      case s => s
    }
    if (recs != records || recs == 0) Some(s"decoded $recs records, job reported $records")
    else if (bad > 0) Some(s"$bad sequences over $MaxLen tokens or with a wrong n_tokens")
    else if (short > Buckets) Some(s"$short short sequences, at most $Buckets expected")
    else if ((n, h) != expectedTokens)
      Some(s"packed tokens ($n, $h) != surviving documents' tokens $expectedTokens")
    else None
  }
}

/** BPE segmentation of one word by the documented contract, written
  * apart from the program's tokenizer: the word starts as its code
  * points, and the merge rules apply in rank order, each merging all its
  * adjacent occurrences left to right in one pass. Words repeat, so each
  * is segmented once. */
final class Segmenter(rules: Array[(String, String)]) {
  private val memo = collection.mutable.HashMap.empty[String, Array[String]]

  def apply(word: String): Array[String] = memo.getOrElseUpdate(word, {
    var syms = word.codePoints().toArray.map(c => new String(Character.toChars(c)))
    rules.foreach { case (a, b) =>
      val out = collection.mutable.ArrayBuffer.empty[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) { out += a + b; i += 2 }
        else { out += syms(i); i += 1 }
      }
      syms = out.toArray
    }
    syms
  })
}

/** Reading back every split of a TFRecord export written once in setup. */
final class ExamplesScan extends Workload {
  private val Records = 900000
  private val Splits = Seq("train" -> 8, "eval" -> 1, "test" -> 1)
  private var export: String = _
  private var reported = 0L
  private var independent: (Long, Long) = _

  def inputRows: Long = reported

  /** The export has the value kinds a feature pipeline writes: ints,
    * floats, strings, timestamps, lists and NULLs. */
  def prepare(spark: SparkSession, dir: String, models: String, seed: Long): Unit = {
    export = s"$dir/export"
    val id = col("id")
    val df = spark.range(Records).select(
      id.as("example_id"),
      floor(Inputs.u(seed, "x_user", id) * 50000).cast("long").as("user_id"),
      (Inputs.u(seed, "x_price", id) * 1000).as("price"),
      when(Inputs.u(seed, "x_null", id) < 0.2, lit(null).cast("double"))
        .otherwise(Inputs.u(seed, "x_score", id)).as("score"),
      concat(lit("segment-"), floor(Inputs.u(seed, "x_seg", id) * 40).cast("string")).as("segment"),
      timestamp_seconds(lit(Inputs.Epoch1995) +
        floor(Inputs.u(seed, "x_ts", id) * Inputs.OrderDays * 86400L)).as("event_timestamp"),
      transform(sequence(lit(1), (floor(Inputs.u(seed, "x_n", id) * 8) + 1).cast("int")),
        i => floor(Inputs.u(seed, "x_hist", id, i) * 100000).cast("long")).as("history"))
    val payloads = Runner.encode(df)
    val results = Runner.writeSplits(payloads, Splits, export)
    val shards = Workloads.scanShards(spark, export) { it =>
      var n = 0L; var h = 0L
      it.foreach { ex => n += 1; h += Codec.hash(ex) }
      (n, h)
    }
    reported = results.map(_.records).sum
    independent = (shards.map(_._2._1).sum, shards.map(_._2._2).sum)
  }

  def register(spark: SparkSession): Unit =
    require(Splits.forall { case (s, _) => new File(s"$export/$s").isDirectory }, "export missing")

  private def read(spark: SparkSession): Dataset[Array[Byte]] =
    Splits.map { case (s, _) => TfRecordSource.read(spark, export, s) }.reduce(_ union _)

  /** Decode every record and fold its whole feature map into a content
    * hash, so every value is touched. */
  private def decodeAll(ds: Dataset[Array[Byte]]): Dataset[Long] =
    ds.map(b => Codec.hash(ExamplesScan.canonical(TfExample.decode(b))))(Encoders.scalaLong)

  /** (records, wrapping sum of record hashes). */
  private def fold(hashes: Dataset[Long]): (Long, Long) = {
    val parts = hashes.mapPartitions { it =>
      var n = 0L; var h = 0L
      it.foreach { x => n += 1; h += x }
      Iterator((n, h))
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private var lastAgg: (Long, Long) = (0, 0)

  def run(spark: SparkSession, out: String): Long = {
    lastAgg = fold(decodeAll(read(spark)))
    lastAgg._1
  }

  def expect(spark: SparkSession): Unit = ()

  def check(spark: SparkSession, out: String, records: Long): Option[String] =
    if (records != reported) Some(s"decoded $records records, the export reported $reported")
    else if (lastAgg != independent) Some(s"decoded content $lastAgg != independent decode $independent")
    else None

  def outputBytes(out: String): Long = Workloads.bytesUnder(export)

  def corruptible(out: String): (String, String) = (export, "price")

  def traced(spark: SparkSession, tr: Tracer, out: String): LayerStats = {
    val run = tr.nextRun()
    val pRead = tr.materialize(read(spark).toDF("payload"), s"A$run:io.read")
    var readSpan: Span = null
    var records = 0L
    val (_, root) = tr.span("job", s"B$run:job") {
      val (ds, rs) = tr.span("io.read", s"B$run:io.read")(read(spark))
      readSpan = rs
      val ((n, _), _) = tr.span("encode.decode", s"B$run:encode.decode") {
        lastAgg = fold(decodeAll(ds))
        lastAgg
      }
      records = n
    }
    val readW = tr.work(s"B$run:io.read")
    val decodeSpan = root.seconds - readSpan.seconds
    val decodeW = tr.work(s"B$run:encode.decode")
    val v = Map(
      "io.read.self_s" -> (readSpan.seconds + pRead.wallS),
      "io.read.task_cpu_s" -> (readW + pRead.work).cpuS,
      "io.read.build_s" -> readSpan.seconds,
      "io.read.shuffle_bytes" -> (readW + pRead.work).shuffleBytes.toDouble,
      "io.read.shuffle_blocks" -> (readW + pRead.work).shuffleBlocks.toDouble,
      "io.read.rows_out" -> pRead.rows.toDouble,
      "encode.decode.self_s" -> (decodeSpan - pRead.wallS),
      "encode.decode.task_cpu_s" -> (decodeW - pRead.work).cpuS,
      "encode.decode.rows_in" -> pRead.rows.toDouble,
      "encode.decode.rows_out" -> records.toDouble)
    val attributed = v("io.read.self_s") + v("encode.decode.self_s")
    LayerStats(v, root.seconds, root.seconds - attributed, pRead.wallS, records)
  }
}

object ExamplesScan {
  def canonical(m: Map[String, TfExample.FeatureValue]): Codec.Example = m.map {
    case (k, TfExample.Int64s(vs)) => k -> Codec.I64(vs)
    case (k, TfExample.Floats(vs)) => k -> Codec.F32(vs.map(java.lang.Float.floatToIntBits))
    case (k, TfExample.Bytes(vs)) => k -> Codec.Bs(vs)
    case (k, _) => k -> Codec.NoValue
  }
}

/** Maps an oracle row to the tf.Example it must decode to, by the
  * documented tf.Example type contract (not by the encoder's code). */
object Expected {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.types._

  private val IsoMicros = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'").withZone(java.time.ZoneOffset.UTC)

  def example(schema: StructType, r: InternalRow): Codec.Example =
    schema.fields.zipWithIndex.map { case (f, i) =>
      f.name -> (if (r.isNullAt(i)) Codec.NoValue else f.dataType match {
        case LongType => Codec.I64(Seq(r.getLong(i)))
        case IntegerType => Codec.I64(Seq(r.getInt(i).toLong))
        case DoubleType => Codec.F32(Seq(java.lang.Float.floatToIntBits(r.getDouble(i).toFloat)))
        case StringType => Codec.Bs(Seq(r.getUTF8String(i).getBytes))
        case TimestampType =>
          val us = r.getLong(i)
          val t = java.time.Instant.ofEpochSecond(Math.floorDiv(us, 1000000L),
            Math.floorMod(us, 1000000L) * 1000L)
          Codec.Bs(Seq(IsoMicros.format(t).getBytes("UTF-8")))
        case other => sys.error(s"oracle column ${f.name}: unexpected type $other")
      })
    }.toMap
}

package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.diff.{Diff, DiffOptions, Report}
import graft.diff.Messages.Korean
import graft.ext.{Checkpoints, CorpusClean, TrainPrep}
import graft.schema.Snapshot

/** Timing side of the benchmark: one JVM, one Spark session, one caller,
  * one operation at a time (a closed loop). It sets up, warms up, runs
  * the workload's unit of work until the time is up, and writes every
  * sample with what its output check needs to `<work>/result.json`.
  * `perfbench/run.py` generates data, launches this, checks outputs and
  * prints the metrics.
  *
  * Usage: graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace 0|1 --work <dir> [--data <dir>] [--size <n>] [--setups <n>]
  *   [--min-units <n>]
  */
object Main {

  val capstoneKey = "train_assembly_dsir_pipeline"
  /** The operator mix: the capstone, then one registry key per layer. */
  val mixKeys: Seq[String] = Seq(
    capstoneKey, "knn_ivf", "dedup_minhash_lsh", "graph_neighbor_jaccard",
    "multimodal_phash_clusters", "tpch_q9_product_profit", "tpch_q18_large_orders",
    "events_sessionize", "events_dau_wau_sketch")

  final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: Path, data: Option[String], size: Int, setups: Int, minUnits: Int)

  /** One timed unit of work: `ops` operations, `failed` of them failed.
    * `check` is what run.py verifies.
    */
  final case class Sample(wallS: Double, ops: Int, failed: Int, error: String, jobs: Long,
      check: String) {
    def ok: Boolean = failed == 0
  }

  private val units = new java.util.concurrent.atomic.AtomicInteger()
  /** A directory no earlier unit has used. */
  def unitDir(work: Path): Path = work.resolve(s"units/${units.incrementAndGet()}")

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath, kv.get("data"),
      kv.get("size").map(_.toInt).getOrElse(0), kv.get("setups").map(_.toInt).getOrElse(3),
      kv.get("min-units").map(_.toInt).getOrElse(1))
    val wl: Workload = a.workload match {
      case "catalog_parquet" => new CatalogParquet(a)
      case "catalog_diff_wide" => new CatalogWide(a)
      case "operator_mix" => new DataKeys(a, mixKeys)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    Files.createDirectories(a.work)
    val out = new StringBuilder("{")

    // Set up several times; each round starts a fresh session, makes the
    // inputs and runs one checked warm-up unit. The last session stays.
    var spark: SparkSession = null
    val setupS = (1 to a.setups).map { round =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(a)
      wl.prepare(spark, round)
      val w = wl.run(spark, 0, None)
      require(w.ok, s"warm-up failed: ${w.error}")
      (System.nanoTime() - t0) / 1e9
    }
    out.append(s""""setup_s": ${setupS.mkString("[", ", ", "]")}, """)
    out.append(s""""warmup": ${wl.warmupJson}, """)

    val trace = if (a.trace) Some(new Trace(spark)) else None
    val counter = if (a.trace) None else Some(new JobCounter(spark))
    val samples = mutable.ArrayBuffer.empty[Sample]
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    var i = 1
    while (samples.size < a.minUnits || System.nanoTime() < deadline) {
      val jobs0 = counter.map(_.jobs).getOrElse(0L)
      val s = wl.run(spark, i, trace)
      samples += s.copy(jobs = counter.map(_.jobs - jobs0).getOrElse(s.jobs))
      i += 1
    }
    counter.foreach(_.close())
    trace.foreach(_.close())

    out.append(s""""samples": ${samples.map(sampleJson).mkString("[", ", ", "]")}, """)
    out.append(s""""layers": ${trace.map(t => wl.layers(t, samples.size)).getOrElse("{}")}, """)
    out.append(s""""peak_rss_mb": ${peakRssMb()}, """)
    out.append(s""""spark_version": ${q(spark.version)}}""")
    spark.stop()
    Files.writeString(a.work.resolve("result.json"), out.toString)
  }

  def session(a: Args): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .withExtensions(new graft.GraftSparkExtensions())
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN") // as the CLI does
    spark
  }

  private def sampleJson(s: Sample): String =
    s"""{"wall_s": ${s.wallS}, "ops": ${s.ops}, "failed": ${s.failed}, "error": ${q(s.error)}, """ +
      s""""jobs": ${s.jobs}, "check": ${s.check}}"""

  /** VmHWM of this process, in MB. */
  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def q(s: String): String = if (s == null) "null" else "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Medians over traced units of per-unit sums of span stats, by layer. */
  def layerJson(spans: Seq[SpanStats], units: Int, names: Seq[String],
      fields: Seq[(String, SpanStats => Double)]): Seq[(String, Double)] =
    names.flatMap { n =>
      val mine = spans.filter(_.name == n)
      val perUnit = mine.size / math.max(1, units)
      fields.map { case (f, get) =>
        val sums = if (perUnit == 0) Seq(0.0)
          else mine.grouped(perUnit).map(g => g.map(get).sum).toSeq
        s"$n.$f" -> median(sums)
      }
    }

  val stdFields: Seq[(String, SpanStats => Double)] = Seq(
    "self_s" -> (_.selfS), "jobs" -> (_.jobs.toDouble), "tasks" -> (_.tasks.toDouble),
    "shuffle_bytes" -> (_.shuffleBytes.toDouble), "spill_bytes" -> (_.spillBytes.toDouble),
    "driver_gap_s" -> (_.driverGapS), "wall_s" -> (_.wallS),
    "exchanges" -> (_.exchanges.toDouble))

  def pick(names: String*): Seq[(String, SpanStats => Double)] =
    names.map(n => stdFields.find(_._1 == n).get)

  def jsonObj(kv: Seq[(String, Double)]): String =
    kv.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
}

/** A workload: its inputs, its unit of work, and its per-layer metrics. */
trait Workload {
  /** Makes this round's inputs in `spark` (setup round `round`). */
  def prepare(spark: SparkSession, round: Int): Unit
  /** Runs unit `i` (0 = the warm-up), traced when `trace` is set. */
  def run(spark: SparkSession, i: Int, trace: Option[Trace]): Main.Sample
  /** What the warm-up established, for run.py's checks. */
  def warmupJson: String = "{}"
  /** Per-layer metrics from the traced units, as a JSON object. */
  def layers(t: Trace, units: Int): String
}

/** Shared per-layer metrics of the two catalog workloads. */
trait CatalogLayers extends Workload {
  import Main._
  protected var findings: Long = 0
  protected var jsonBytes: Long = 0
  /** Tables read per unit, both sides together. */
  protected var tables: Int = 1

  def layers(t: Trace, units: Int): String = {
    val snap = layerJson(t.spans, units, Seq("schema.Snapshot"),
      pick("self_s", "jobs", "tasks", "driver_gap_s"))
    val jobs = snap.find(_._1 == "schema.Snapshot.jobs").get._2
    val diff = t.spans.filter(_.name == "diff.Diff")
    val plan = t.spans.filter(_.name == "diff.Diff.plan")
    jsonObj(snap ++ Seq(
      "schema.Snapshot.jobs_per_table" -> jobs / tables,
      "diff.Diff.plan_s" -> median(diff.map(_.wallS)),
      "diff.Diff.exchanges" -> median(plan.map(_.exchanges.toDouble)),
      "diff.Diff.broadcast_joins" -> median(plan.map(_.broadcastJoins.toDouble)),
      "diff.Diff.findings" -> findings.toDouble) ++
      layerJson(t.spans, units, Seq("diff.Report"),
        pick("self_s", "jobs", "tasks", "shuffle_bytes", "spill_bytes", "driver_gap_s")) ++
      Seq("diff.Report.json_bytes" -> jsonBytes.toDouble))
  }

  /** One catalog diff with each layer in its own span; returns the
    * findings frame for [[planShape]].
    */
  protected def tracedDiff(t: Trace, base: => graft.schema.SchemaSnapshot,
      target: => graft.schema.SchemaSnapshot, opts: DiffOptions, outDir: String): DataFrame = {
    val b = t.span("schema.Snapshot")(base)
    val tg = t.span("schema.Snapshot")(target)
    val f = t.span("diff.Diff")(Diff.diff(b, tg, opts))
    t.span("diff.Report")(Report.writeJsonFile(Report.fromFindings(f), outDir))
    f
  }

  /** Counts the planned findings query's shape, outside the timed unit. */
  protected def planShape(t: Trace, findings: DataFrame): Unit =
    t.span("diff.Diff.plan")(t.notePlan(findings.queryExecution.executedPlan))

  protected def reportCheck(dir: Path): String = {
    val files = Option(dir.toFile.listFiles()).getOrElse(Array.empty).filter(_.getName.endsWith(".json"))
    require(files.length == 1, s"expected one report in $dir, found ${files.length}")
    jsonBytes = files.head.length()
    s"""{"report": ${Main.q(files.head.getPath)}}"""
  }
}

/** The CLI `diff` over two parquet-dir catalogs (light drift). Each unit
  * reads hard-linked copies of the catalogs under fresh paths, so no
  * path-keyed cache in the library can serve a later unit.
  */
final class CatalogParquet(a: Main.Args) extends CatalogLayers {
  private val n = if (a.size > 0) a.size else 12
  private val src = a.work.resolve("catalog")
  private var current: Path = _

  def prepare(spark: SparkSession, round: Int): Unit = {
    val cat = CatalogGen.generate(a.seed, n, 4, 16, CatalogGen.parquetDrifts,
      math.max(1, n / 24), meta = false, bidirectional = false)
    val dir = src.resolve(s"setup$round")
    CatalogGen.writeParquetDir(cat.base, dir.resolve("base"))
    CatalogGen.writeParquetDir(cat.target, dir.resolve("target"))
    Files.writeString(a.work.resolve("manifest.json"), cat.manifestJson("English"))
    findings = cat.expected.values.sum
    tables = cat.base.size + cat.target.size
    current = dir
  }

  private def freshCopy(): Path = {
    val dst = Main.unitDir(a.work)
    Seq("base", "target").foreach { side =>
      Files.createDirectories(dst.resolve(side))
      current.resolve(side).toFile.listFiles().foreach(f =>
        Files.createLink(dst.resolve(side).resolve(f.getName), f.toPath))
    }
    dst
  }

  def run(spark: SparkSession, i: Int, trace: Option[Trace]): Main.Sample = {
    val d = freshCopy()
    val (b, t, out) = (d.resolve("base").toString, d.resolve("target").toString, d.resolve("out"))
    try {
      val (findings, wall) = Main.timed(trace match {
        case None => graft.cli.Main.run(spark, List("diff", b, t, "--out", out.toString)); None
        case Some(tr) => Some(tracedDiff(tr, Snapshot.fromParquetDir(spark, b),
          Snapshot.fromParquetDir(spark, t), DiffOptions(), out.toString))
      })
      for (tr <- trace; f <- findings) planShape(tr, f)
      val snapJobs = trace.map(_.spans.filter(_.name == "schema.Snapshot").takeRight(2).map(_.jobs).sum)
      Main.Sample(wall, 1, 0, null, snapJobs.getOrElse(0L), reportCheck(out))
    } catch { case e: Exception => Main.Sample(0, 1, 1, e.toString, 0, "{}") }
  }
}

/** A JDBC-shaped catalog built with `Snapshot.fromMeta`: many tables,
  * indexes and foreign keys, heavy drift across every enabled check,
  * diffed both ways with the Korean report. No footer reads.
  */
final class CatalogWide(a: Main.Args) extends CatalogLayers {
  private val n = if (a.size > 0) a.size else 1500
  private var cat: DriftedCatalog = _
  private val opts = DiffOptions(language = Korean, bidirectional = true)

  def prepare(spark: SparkSession, round: Int): Unit = {
    cat = CatalogGen.generate(a.seed, n, 4, 16, CatalogGen.metaDrifts,
      math.max(1, n / 100), meta = true, bidirectional = true)
    Files.writeString(a.work.resolve("manifest.json"), cat.manifestJson("Korean"))
    findings = cat.expected.values.sum
    tables = cat.base.size + cat.target.size
  }

  def run(spark: SparkSession, i: Int, trace: Option[Trace]): Main.Sample = {
    val out = Main.unitDir(a.work).resolve("out")
    try {
      val (findings, wall) = Main.timed(trace match {
        case None =>
          Report.writeJsonFile(Report.fromFindings(Diff.diff(
            CatalogGen.snapshot(spark, cat.base), CatalogGen.snapshot(spark, cat.target), opts)),
            out.toString)
          None
        case Some(tr) => Some(tracedDiff(tr, CatalogGen.snapshot(spark, cat.base),
          CatalogGen.snapshot(spark, cat.target), opts, out.toString))
      })
      for (tr <- trace; f <- findings) planShape(tr, f)
      Main.Sample(wall, 1, 0, null, 0L, reportCheck(out))
    } catch { case e: Exception => Main.Sample(0, 1, 1, e.toString, 0, "{}") }
  }
}

/** Registry keys over generated data tables; one unit is one pass over
  * the keys. Each key's result is reduced to (row count, order-insensitive
  * hash) by one aggregate, which executes the whole plan. Every unit's
  * fingerprint must equal the warm-up's, whose dumped rows run.py
  * compares with the key's DuckDB oracle.
  */
final class DataKeys(a: Main.Args, keys: Seq[String]) extends Workload {
  import Main._
  private val data = a.data.getOrElse(throw new IllegalArgumentException("--data is required"))
  private val expected = mutable.Map.empty[String, String]

  def prepare(spark: SparkSession, round: Int): Unit =
    Files.writeString(a.work.resolve("oracle_sql.json"),
      keys.map(k => s"${q(k)}: ${q(SparkEntry.oracleSql(k))}").mkString("{", ", ", "}"))

  /** The capstone's stages, each in its own span, in the order the
    * registry key composes them; returns the result's fingerprint. The
    * final action executes the finishing stage's plan, so it is charged
    * to that stage.
    */
  private def tracedCapstone(spark: SparkSession, t: Trace): String = {
    val docs = graft.sources.Tables.load(spark, data, "documents")
    val d = docs.select(col("doc_id"), col("text"))
    val w = split(col("text"), " ")
    val corpus = d
      .unionByName(d.select((col("doc_id") + 1000000L).as("doc_id"),
        concat_ws(" ", slice(w, lit(1), greatest(size(w) - 2, lit(1)))).as("text")))
      .unionByName(d.select((col("doc_id") + 2000000L).as("doc_id"), col("text")))
    val target = docs.filter(col("doc_id") % 20 === 0).select(col("doc_id"), col("text"))
    val cleaned = t.span("ext.CorpusClean.clean")(Checkpoints.truncateLazy(CorpusClean.clean(corpus)))
    val selected = t.span("ext.TrainPrep.dsirSelect")(
      TrainPrep.dsirSelect(cleaned.select(col("doc_id"), col("text")), target)
        .filter(col("kept")).select(col("doc_id")))
    t.span("ext.CorpusClean.finish")(fingerprint(
      CorpusClean.finish(cleaned.join(selected, Seq("doc_id"))).orderBy("doc_id")))
  }

  private def fingerprint(df: DataFrame): String = {
    val h = xxhash64(df.columns.map(c => df.col(s"`$c`")): _*).cast("decimal(38,0)")
    val r = df.agg(count(lit(1)), coalesce(sum(h), lit(0).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  def run(spark: SparkSession, i: Int, trace: Option[Trace]): Sample = {
    val checks = mutable.ArrayBuffer.empty[String]
    var failures = 0
    var firstError: String = null
    def pass(): Unit = keys.foreach { key =>
      val body: () => Unit = () => {
        val fp =
          if (i == 0) {
            // warm-up: dump the rows for the oracle check, then hash the dump
            val dump = a.work.resolve(s"dumps/$key").toString
            SparkEntry.queries(key)(spark, data).coalesce(1).write.mode("overwrite").parquet(dump)
            val f = fingerprint(spark.read.parquet(dump))
            expected(key) = f
            f
          } else trace match {
            case Some(t) if key == capstoneKey => tracedCapstone(spark, t)
            case _ => fingerprint(SparkEntry.queries(key)(spark, data))
          }
        spark.sharedState.cacheManager.clearCache()
        val ok = expected.get(key).contains(fp)
        if (!ok) throw new IllegalStateException(s"$key fingerprint $fp != warm-up ${expected.get(key)}")
        checks += s"""${q(key)}: ${q(fp)}"""
      }
      try trace match {
        case Some(t) => t.span(key)(body())
        case None => body()
      } catch { case e: Exception =>
        failures += 1
        if (firstError == null) firstError = s"$key: $e"
      }
    }
    val (_, wall) = timed(pass())
    Sample(wall, keys.size, failures, firstError, 0L, checks.mkString("{", ", ", "}"))
  }

  override def warmupJson: String =
    expected.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ", ", "}")

  def layers(t: Trace, units: Int): String = {
    val stages = Seq("ext.CorpusClean.clean", "ext.TrainPrep.dsirSelect", "ext.CorpusClean.finish")
    jsonObj(
      layerJson(t.spans, units, stages,
        pick("self_s", "jobs", "shuffle_bytes", "spill_bytes", "driver_gap_s")) ++
      layerJson(t.spans, units, keys,
        pick("wall_s", "jobs", "shuffle_bytes", "spill_bytes", "driver_gap_s", "exchanges")))
  }
}

package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.core.RuleSpec._
import graft.engine.{EngineConfig, ReferentialIntegrity, UniquenessCheck, ValidationRun}
import graft.fixtures.Fixtures
import graft.rules.{BoundRule, ValidationEngine}
import graft.stats.Drift

/**
 * One benchmark invocation: one workload, one seed, one JVM.
 *
 *   Main --workload engine-full|engine-resume --seed N --seconds S --trace 0|1
 *        --work DIR --result FILE [--docs N] [--parts P]
 *
 * Set-up (session, seeded fixture, untimed warm-up legs) is followed by timed
 * untraced legs for `--seconds`; every leg is kept and medians are reported.
 * With `--trace 1` a separate traced pass then calls each layer under its own
 * job group ([[LayerTrace]]). Correctness checks run outside the timed legs;
 * every leg and check is one attempted operation, and a throw or a mismatch
 * counts it failed. The result (metrics, counts, and the outputs the DuckDB
 * oracles in run.py compare) is written as JSON to `--result`. On
 * `engine-full` the traced pass also runs the sweep modules' layers
 * ([[SweepModules]]).
 *
 * Setting PERFBENCH_INJECT_FAULT=1 corrupts one output on purpose, so a test
 * can show that a wrong output raises the failed count.
 */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: String, result: String,
                        docs: Long, parts: Int)

  def parseArgs(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    Args(workload, need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("result"),
      m.get("docs").map(_.toLong).getOrElse(Workload.defaultDocs(workload)),
      m.get("parts").map(_.toInt).getOrElse(32))
  }

  def main(argv: Array[String]): Unit = {
    val args = parseArgs(argv)
    val work = new File(args.work).getAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors
    val spark = session(cores, work)
    val sessionReadyS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val inject = sys.env.get("PERFBENCH_INJECT_FAULT").contains("1")
    val w = args.workload match {
      case "engine-full" => new EngineFull(spark, args, work, inject)
      case "engine-resume" => new EngineResume(spark, args, work, inject)
      case other => sys.error(s"unknown workload $other")
    }
    val out = try w.execute(sessionReadyS) finally spark.stop()
    out.metrics("peak_rss_mb") = (peakRssMb(), "MB")
    Files.writeString(Paths.get(args.result), out.json)
  }

  /** The session settings of `graft.Bench`, with every scratch dir inside
    * `work` so a run writes only inside its checkout. */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark's default of 100 compiled classes is less than one workload
      // plus the benchmark's own check queries compile (engine-resume alone
      // reaches about 120), so legs would recompile and re-JIT classes the
      // checks evicted, at random.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
}

/** Attempted / failed operation accounting. */
final class Ops {
  var attempted = 0
  var failed = 0

  private def fail(msg: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED $msg")
  }

  /** One operation; a throw counts it failed and yields None. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case e: Exception => fail(s"$name threw $e"); None }
  }

  /** One correctness check. */
  def check(name: String, ok: => Boolean, detail: => String): Unit = {
    attempted += 1
    val passed = try ok catch { case e: Exception => fail(s"$name threw $e"); return }
    if (!passed) fail(s"$name: $detail")
  }
}

/** What one invocation hands to run.py. */
final class Outcome(val ops: Ops) {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Oracle comparisons for run.py: (name, DuckDB SQL, engine rows). */
  val oracle = mutable.ArrayBuffer.empty[(String, String, Seq[Map[String, Any]])]
  /** Parquet globs run.py registers as DuckDB views before the oracles run. */
  val tables = mutable.LinkedHashMap.empty[String, String]

  def json: String = {
    def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
      val m = new java.util.LinkedHashMap[String, Any]
      kv.foreach { case (k, v) => m.put(k, v) }
      m
    }
    val ms = metrics.toSeq.map { case (k, (v, u)) =>
      k -> obj("value" -> (if (v.isNaN || v.isInfinite) null else v), "unit" -> u) }
    val or = oracle.map { case (n, sql, rows) =>
      obj("name" -> n, "sql" -> sql, "rows" -> rows.map(r => obj(r.toSeq: _*)).asJava) }
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(obj(
      "attempted" -> ops.attempted, "failed" -> ops.failed,
      "metrics" -> obj(ms: _*), "oracle" -> or.asJava, "tables" -> tables.asJava))
  }

}

/** One timed leg: wall and process CPU, plus workload-specific timings. */
final case class Leg(wallS: Double, cpuS: Double, extra: Map[String, Double] = Map.empty)

object Workload {
  def defaultDocs(workload: String): Long = workload match {
    case "engine-resume" => 200000L
    case _ => 400000L
  }

  /** The structural rule suite of the BASELINE headline (Bench.scala). */
  val rules: Seq[BoundRule] = Seq(
    BoundRule(Required("doc_id")), BoundRule(SpanOffsetsMonotonic()),
    BoundRule(SpanFieldConsistency()), BoundRule(SpansNonEmpty()))

  val Layers: Seq[String] = Seq("scan", "rules.annotate", "rules.violations",
    "engine.uniq", "engine.ri", "engine.run", "engine.verdict",
    "engine.attempt", "engine.ledger", "engine.resume", "stats.drift")
  /** Every job group the attribution share counts as named. */
  val AllLayers: Seq[String] = Layers ++ SweepModules.Layers

  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  /** Accumulated JIT compiler thread time. */
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  /** Whole-stage / expression classes Spark compiled (codegen cache misses). */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Order-independent digest of a frame: row count and the exact sum of the
    * per-row xxhash64 over its columns in name order. */
  def digest(df: DataFrame): String = {
    val cols = df.columns.sorted.map(col)
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}"
  }

  def deleteTree(path: String): Unit = FileUtils.deleteDirectory(new File(path))

  def copyTree(from: String, to: String): Unit =
    FileUtils.copyDirectory(new File(from), new File(to))

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Wait (at most 2 s) until the JIT compiler threads are nearly idle, so a
    * timed leg does not share the cores with compiling the code the previous
    * leg's untimed checks ran. */
  def settle(): Unit = {
    val t0 = System.nanoTime()
    var last = jitMs
    var quiet = false
    while (!quiet && secondsSince(t0) < 2.0) {
      Thread.sleep(100)
      val j = jitMs
      quiet = j - last < 10
      last = j
    }
  }
}

/**
 * Shared shape of a workload: set-up, warm-up, timed legs, traced pass.
 * Subclasses supply the fixture layout, the leg and the traced pass.
 */
abstract class Workload(val spark: SparkSession, val args: Main.Args,
                        val work: String, val inject: Boolean) {
  import Workload._

  val ops = new Ops
  val out = new Outcome(ops)
  /** Generator seed of this workload's fixture. */
  def fixtureSeed: Int
  /** Write the fixture partitioned by `part` on disk. */
  def partitionedFixture: Boolean
  /** One leg; `i` < 0 for warm-up legs. Checks its own output. */
  def leg(i: Int): Leg
  /** Extra set-up after the fixture exists (timed into setup_s). */
  def prepare(): Unit = ()
  /** Untimed legs set-up runs before timing starts. A fresh JVM keeps
    * JIT-compiling Spark's planner and the engine's code for many legs: on
    * 4 cores at 500 k docs, compiler-thread time per leg fell from about 4 s
    * over the first five legs to about 1 s by the twelfth, and leg walls
    * settled from about the sixth leg on. */
  def warmupLegs: Int = 5
  /** The traced pass; returns the wall time of the traced end-to-end calls. */
  def tracedPass(trace: LayerTrace): Double

  lazy val docsPath: String = s"$work/docs"

  /** Generate the fixture into `path`; returns the seconds spent. Every
    * invocation generates its own: the work dir is fresh and removed at exit. */
  def generate(path: String): Double = {
    val t0 = System.nanoTime()
    val w = Fixtures.docs(spark, args.docs, args.parts, seed = fixtureSeed).write
    if (partitionedFixture) w.partitionBy("part").parquet(path) else w.parquet(path)
    secondsSince(t0)
  }

  lazy val docs: DataFrame = spark.read.parquet(docsPath)
  lazy val assets: DataFrame = Fixtures.assets(spark).cache()

  def execute(sessionReadyS: Double): Outcome = {
    val genS = generate(docsPath)
    assets.count()
    val t0 = System.nanoTime()
    prepare()
    val prepareS = secondsSince(t0)
    val warm = (1 to warmupLegs).flatMap(i => ops.op(s"warm-up leg $i")(leg(-i)))
    val setupS = sessionReadyS + genS + prepareS + warm.map(_.wallS).sum

    // Timed legs fill the measurement window: after the first, a leg starts
    // only if one more leg of the last one's length still fits.
    val legs = mutable.ArrayBuffer.empty[Leg]
    val start = System.nanoTime()
    var i = 1
    var lastS = 0.0
    while (legs.isEmpty || secondsSince(start) + lastS <= args.seconds) {
      val l0 = System.nanoTime()
      System.gc() // no leg inherits the previous leg's garbage
      settle()
      val (gc0, jit0, cg0) = (gcMs, jitMs, codegenCompiles)
      ops.op(s"leg $i")(leg(i)).foreach(l => legs += l.copy(extra = l.extra ++
        Map("gc_s" -> (gcMs - gc0) / 1e3, "jit_s" -> (jitMs - jit0) / 1e3,
          "codegen" -> (codegenCompiles - cg0).toDouble)))
      lastS = secondsSince(l0)
      i += 1
      if (legs.isEmpty && i > 3) sys.error("three timed legs in a row failed")
    }
    val wallS = median(legs.map(_.wallS).toSeq)
    val cpuS = median(legs.map(_.cpuS).toSeq)
    System.err.println(f"[perfbench] ${args.workload} seed=${args.seed} docs=${args.docs} " +
      f"setup=$setupS%.2fs (session=$sessionReadyS%.2f gen=$genS%.2f " +
      f"prepare=$prepareS%.2f warm-up=${warm.map(l => f"${l.wallS}%.2f").mkString(",")}) " +
      f"legs=${legs.size} walls=${legs.map(l => f"${l.wallS}%.2f").mkString(",")} " +
      f"cpus=${legs.map(l => f"${l.cpuS}%.2f").mkString(",")} " +
      f"gc=${legs.map(l => f"${l.extra("gc_s")}%.2f").mkString(",")} " +
      f"jit=${legs.map(l => f"${l.extra("jit_s")}%.2f").mkString(",")} " +
      f"codegen=${legs.map(l => f"${l.extra("codegen")}%.0f").mkString(",")}")

    if (!args.trace) {
      out.metrics("wall_s") = (wallS, "s")
      out.metrics("docs_per_s") = (args.docs / wallS, "docs/s")
      out.metrics("cpu_s") = (cpuS, "s")
      out.metrics("cpu_us_per_doc") = (cpuS * 1e6 / args.docs, "us")
      out.metrics("setup_s") = (setupS, "s")
    } else {
      // Same seed, same inputs. Checked in traced runs only, to keep the
      // untraced ones short.
      generate(s"$work/regen")
      ops.check("fixture regeneration",
        digest(spark.read.parquet(s"$work/regen")) == digest(docs),
        "a regeneration from the same seed differs from the kept fixture")
      deleteTree(s"$work/regen")
      val trace = new LayerTrace(spark)
      trace.start()
      val tracedS = try ops.op("traced pass")(tracedPass(trace)).getOrElse(Double.NaN)
                    finally trace.stop()
      layerMetrics(trace)
      out.metrics("trace_overhead") = (tracedS / wallS, "ratio")
      out.metrics("timed_legs") = (legs.size.toDouble, "count")
      out.metrics("resume_s") =
        (median(legs.flatMap(_.extra.get("resume_s")).toSeq) match {
          case d if d.isNaN => 0.0
          case d => d
        }, "s")
    }
    out
  }

  /** Per-layer metrics from the traced pass; layers this workload does not
    * call report zeros so every workload prints the same metric set. */
  def layerMetrics(trace: LayerTrace): Unit = {
    val snap = trace.snapshot()
    val empty = new LayerTotals
    Layers.foreach { l =>
      val t = snap.getOrElse(l, empty)
      out.metrics(s"$l.wall_s") = (t.wallNs / 1e9, "s")
      out.metrics(s"$l.cpu_s") = (t.cpuNs / 1e9, "s")
      out.metrics(s"$l.gc_s") = (t.gcMs / 1e3, "s")
      out.metrics(s"$l.wait_s") = (t.fetchWaitMs / 1e3 + t.shuffleWriteNs / 1e9, "s")
      out.metrics(s"$l.input_mb") = (t.inputBytes / 1e6, "MB")
      out.metrics(s"$l.shuffle_mb") = (t.shuffleBytes / 1e6, "MB")
      out.metrics(s"$l.spill_mb") = (t.spillBytes / 1e6, "MB")
      out.metrics(s"$l.jobs") = (t.jobs.toDouble, "count")
    }
    SweepModules.Layers.foreach { l =>
      val t = snap.getOrElse(l, empty)
      out.metrics(s"$l.wall_s") = (t.wallNs / 1e9, "s")
      out.metrics(s"$l.cpu_s") = (t.cpuNs / 1e9, "s")
      out.metrics(s"$l.jobs") = (t.jobs.toDouble, "count")
    }
    val all = snap.values
    val named = snap.filter { case (g, _) => AllLayers.contains(g) }.values.map(_.cpuNs).sum
    val totalCpu = snap.filter { case (g, _) => g != LayerTrace.Check }.values.map(_.cpuNs).sum.toDouble
    out.metrics("trace.cpu_attributed_share") =
      (if (totalCpu == 0) 0.0 else named / totalCpu, "ratio")
    out.metrics("tasks_failed") = (all.map(_.failedTasks).sum.toDouble, "count")
    out.metrics("rules.annotate.cache_mb") = (cacheMb, "MB")
    def scans(layers: String*) = layers.flatMap(snap.get).flatMap(_.plans)
    out.metrics("engine.run.docs_scans") =
      (LayerTrace.scansOf(scans("engine.run", "engine.verdict"), docsPath).toDouble, "count")
    out.metrics("engine.resume.docs_scans") =
      (LayerTrace.scansOf(scans("engine.resume"), docsPath).toDouble, "count")
    out.metrics("engine.resume.skipped_share") = (skippedShare, "ratio")
  }

  /** Size of the persisted rule-pass annotation, set by the traced pass. */
  var cacheMb = 0.0
  /** Partitions the traced resume skipped / all partitions. */
  var skippedShare = 0.0

  /** Persist and materialize the rule-pass annotation, recording its size. */
  def annotate(trace: LayerTrace, input: DataFrame, extra: Seq[org.apache.spark.sql.Column]): DataFrame =
    trace.layer("rules.annotate") {
      val n = ValidationEngine.annotateNarrow(input, rules, "doc_id", "part", extra)
        .persist(StorageLevel.MEMORY_AND_DISK)
      noop(n)
      cacheMb = cachedBytes(n) / 1e6
      n
    }

  /** Memory + disk bytes of the cache behind the persisted frame `df` alone
    * (other cached frames, like the assets, are not counted). */
  def cachedBytes(df: DataFrame): Double = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val cached = classic.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .getOrElse(sys.error("the annotation is not cached"))
    val rddId = cached.cachedRepresentation.cacheBuilder.cachedColumnBuffers.id
    spark.sparkContext.getRDDStorageInfo.filter(_.id == rddId)
      .map(i => i.memSize + i.diskSize).sum.toDouble
  }
}

/**
 * engine-full: the BASELINE headline. A full `ValidationRun.run` over the
 * parquet docs table with the structural rules, uniqueness and media_ref RI;
 * violations then verdicts to the noop sink. Checked against the repo's
 * q30/q31 DuckDB oracle and by an output digest that every leg must repeat.
 */
final class EngineFull(spark: SparkSession, args: Main.Args, work: String, inject: Boolean)
    extends Workload(spark, args, work, inject) {
  import Workload._
  import spark.implicits._

  def fixtureSeed: Int = (args.seed % Int.MaxValue).toInt
  def partitionedFixture = false
  private val cfg = EngineConfig(rules = rules)
  private var firstDigest: Option[String] = None

  def leg(i: Int): Leg = {
    val run = new ValidationRun(spark, cfg)
    val c0 = cpuNs
    val t0 = System.nanoTime()
    val (verdicts, viols) = run.run(docs, Some(assets))
    noop(viols)
    noop(verdicts)
    val l = Leg(secondsSince(t0), (cpuNs - c0) / 1e9)
    // The first leg's outputs go to the oracle; every later leg, warm-up or
    // timed, must repeat its digest. Warm-up legs check too, so the timed
    // legs find the checks' code compiled.
    val d = s"${digest(viols)}/${digest(verdicts)}"
    firstDigest match {
      case None =>
        firstDigest = Some(d)
        collectOracleInputs(verdicts, viols)
      case Some(f) =>
        ops.check(s"leg $i digest", d == f, s"output digest $d differs from the first leg's $f")
    }
    viols.unpersist()
    run.unpersistAll()
    l
  }

  /** Engine outputs of the first leg, for the q30/q31 oracle in run.py. */
  private def collectOracleInputs(verdicts: DataFrame, viols: DataFrame): Unit = {
    val fixtureRef = Fixtures.fixturePath("docs_20000_8")
    def sql(q: String): String = {
      val s = graft.OracleSql.all(q)
      require(s.contains(fixtureRef), s"$q oracle no longer reads the docs fixture")
      s.replace(fixtureRef, docsPath)
    }
    val vRows = verdicts.collect().toSeq.map(r =>
      r.schema.fieldNames.map(f => f -> (r.getAs[Any](f): Any)).toMap)
    val counted = viols.groupBy($"rule_id").agg(count(lit(1)).as("n")).collect().toSeq
      .map(r => Map[String, Any]("rule_id" -> r.getString(0), "n" -> r.getLong(1)))
    // an injected fault: one more failed doc in one partition
    val vOut = if (!inject) vRows else vRows.zipWithIndex.map {
      case (r, 0) => r.updated("failed", r("failed").asInstanceOf[Long] + 1)
      case (r, _) => r
    }
    out.oracle += (("q30_engine_verdicts", sql("q30_engine_verdicts"), vOut))
    out.oracle += (("q31_engine_violations", sql("q31_engine_violations"), counted))
  }

  def tracedPass(trace: LayerTrace): Double = {
    trace.layer("scan") { noop(docs.select($"doc_id", $"spans", $"part")) }
    // the RI refs column the engine adds to a full run's rule pass
    val refs = transform(filter($"spans", s => s.getField("media_ref").isNotNull),
      s => struct(s.getField("media_ref").as("media_ref"),
                  s.getField("offset").as("offset"))).as("__media_refs")
    val narrow = annotate(trace, docs, Seq(refs))
    trace.layer("rules.violations") { noop(ValidationEngine.violationsFromNarrow(narrow, rules)) }
    trace.layer("engine.uniq") {
      noop(UniquenessCheck.violations(narrow.select($"doc_id", $"part"), "doc_id", "part"))
    }
    trace.layer("engine.ri") {
      noop(ReferentialIntegrity.violationsFromRefs(
        narrow.select($"doc_id", $"part", explode($"__media_refs").as("s"))
          .select($"doc_id", $"part", $"s.media_ref".as("media_ref"),
                  $"s.offset".as("span_offset")), assets))
    }
    narrow.unpersist()
    val run = new ValidationRun(spark, cfg)
    val t0 = System.nanoTime()
    val (verdicts, viols) = run.run(docs, Some(assets))
    trace.layer("engine.run") { noop(viols) }
    trace.layer("engine.verdict") { noop(verdicts) }
    val tracedS = secondsSince(t0)
    viols.unpersist()
    run.unpersistAll()
    SweepModules.run(spark, trace, s"$work/sweep", args.seed, out)
    tracedS
  }
}

/**
 * engine-resume: a killed-then-resumed written run. `runAndWrite` over half
 * the partitions, `runAndWrite(resume = true)` for the rest, then
 * `Drift.ledgerDriftAll` against a baseline run written during set-up. The
 * config carries content passthroughs (token stats, MinHash-8, SimHash-32) and
 * KLL/HLL/MG ledger sketches, so the engine takes its docs-table fallbacks.
 * Every leg starts from the same on-disk state: fresh output, and a ledger
 * holding only the baseline run's rows.
 */
final class EngineResume(spark: SparkSession, args: Main.Args, work: String, inject: Boolean)
    extends Workload(spark, args, work, inject) {
  import Workload._
  import spark.implicits._

  def fixtureSeed: Int = ((args.seed + 1000003L) % Int.MaxValue).toInt
  def partitionedFixture = true
  private val half: Seq[Int] = 0 until args.parts / 2

  private def withText(df: DataFrame): DataFrame =
    df.withColumn("__text", graft.functions.F.spanText($"spans"))
  private val content = Seq(
    graft.functions.F.tokenStats($"__text").as("__ts"),
    graft.functions.F.minhashSig($"__text", 8, 3, portable = false).as("__mh"),
    graft.functions.F.simhash($"__text", 32, portable = false).as("__sh"))
  private def cfg(dir: String, runId: String) = EngineConfig(rules = rules,
    ledgerDir = Some(dir), runId = runId, passthroughExprs = content,
    sketchExprs = Map("n_spans" -> size($"spans").cast("double")),
    hllSketchExprs = Map("doc_id" -> $"doc_id"),
    mgSketchExprs = Map("id_prefix" -> substring_index($"doc_id", "-", 1)))

  private val baseDir = s"$work/base"
  private var baseDigest = ""

  private def artifactsDigest(outDir: String): String =
    Seq("violations", "verdicts").map(a => digest(spark.read.parquet(s"$outDir/$a"))).mkString("/")

  /** Baseline: a fresh full run over the fixture, written with its ledger
    * (run id "base"). Its artifacts are what every resumed leg must
    * reproduce, and every leg's ledger drift is taken against it. One
    * untimed leg follows it: the attempt and the resume plan and compile
    * code the full run does not (about 45 more generated classes, and about
    * 30 CPU-s of JIT compilation on 4 cores, against about 16 in the next
    * leg), so a first leg would time mostly compilation, and vary with it. */
  override def warmupLegs = 1
  override def prepare(): Unit = {
    new ValidationRun(spark, cfg(baseDir, "base"))
      .runAndWrite(withText(docs), Some(assets), s"$baseDir/out")
    baseDigest = artifactsDigest(s"$baseDir/out")
  }

  /** A fresh leg directory whose ledger holds the baseline rows only. */
  private def freshLegDir(tag: String): String = {
    val dir = s"$work/legs/$tag"
    deleteTree(dir)
    copyTree(s"$baseDir/ledger", s"$dir/ledger")
    dir
  }

  def leg(i: Int): Leg = {
    val dir = freshLegDir(s"leg-$i")
    val c0 = cpuNs
    val t0 = System.nanoTime()
    new ValidationRun(spark, cfg(dir, "cur"))
      .runAndWrite(withText(docs), Some(assets), s"$dir/out", limitParts = Some(half))
    val r0 = System.nanoTime()
    val resumed = new ValidationRun(spark, cfg(dir, "cur"))
    resumed.runAndWrite(withText(docs), Some(assets), s"$dir/out", resume = true)
    val resumeS = secondsSince(r0)
    val drift = Drift.ledgerDriftAll(Drift.readLedger(spark, s"$dir/ledger"), "base", "cur")
    val l = Leg(secondsSince(t0), (cpuNs - c0) / 1e9, Map("resume_s" -> resumeS))
    checkLeg(i, dir, resumed, drift)
    deleteTree(dir)
    l
  }

  private def checkLeg(i: Int, dir: String, run: ValidationRun,
                       drift: Drift.LedgerDriftAll): Unit = {
    if (inject) deleteTree(s"$dir/out/verdicts/part=0")
    val got = artifactsDigest(s"$dir/out")
    ops.check(s"leg $i artifacts", got == baseDigest,
      s"resumed artifacts $got differ from the fresh full run's $baseDigest")
    val ledger = Drift.readLedger(spark, s"$dir/ledger").where($"run_id" === "cur")
    val perPart = ledger.groupBy($"part")
      .agg(count(lit(1)).as("rows"), max_by($"rules_hash", $"attempt_ts").as("h"))
      .collect()
    ops.check(s"leg $i ledger",
      perPart.length == args.parts &&
        perPart.forall(r => r.getLong(1) == 1 && r.getString(2) == run.rulesHash),
      s"ledger rows per part / hashes: ${perPart.map(r => (r.get(0), r.get(1), r.get(2))).toSeq}")
    ops.check(s"leg $i drift",
      !drift.drifted && drift.numeric.nonEmpty && drift.cardinality.nonEmpty &&
        drift.categorical.nonEmpty,
      s"drift against the identical baseline: $drift")
  }

  def tracedPass(trace: LayerTrace): Double = {
    trace.layer("scan") { noop(docs.select($"doc_id", $"spans", $"part")) }
    val narrow = annotate(trace, withText(docs), content)
    trace.layer("rules.violations") { noop(ValidationEngine.violationsFromNarrow(narrow, rules)) }
    narrow.unpersist()
    trace.layer("engine.uniq") { noop(UniquenessCheck.violations(docs, "doc_id", "part")) }
    trace.layer("engine.ri") { noop(ReferentialIntegrity.violations(docs, assets)) }
    val dir = freshLegDir("traced")
    val t0 = System.nanoTime()
    trace.layer("engine.attempt") {
      new ValidationRun(spark, cfg(dir, "cur"))
        .runAndWrite(withText(docs), Some(assets), s"$dir/out", limitParts = Some(half))
    }
    val resumed = new ValidationRun(spark, cfg(dir, "cur"))
    trace.layer("engine.ledger") {
      skippedShare = resumed.completedPartitions().size.toDouble / args.parts
    }
    trace.layer("engine.resume") {
      resumed.runAndWrite(withText(docs), Some(assets), s"$dir/out", resume = true)
    }
    val ledger = trace.layer("engine.ledger") { Drift.readLedger(spark, s"$dir/ledger") }
    val drift = trace.layer("stats.drift") {
      Drift.ledgerDriftAll(ledger, "base", "cur")
    }
    val tracedS = secondsSince(t0)
    trace.unattributed { checkLeg(-1, dir, resumed, drift) }
    deleteTree(dir)
    tracedS
  }
}

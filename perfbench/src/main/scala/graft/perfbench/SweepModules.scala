package graft.perfbench

import java.sql.Timestamp
import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{OracleSql, SparkEntry}
import graft.fixtures.Fixtures
import graft.semantic.{Detector, SemanticValidators}

/**
 * The sweep modules' layers of the traced pass: one `SparkEntry` query per
 * module, run under the module's job group and checked against its DuckDB
 * oracle from [[graft.OracleSql]] (in run.py).
 *
 * The query sweep's own test tables are fixed files outside any checkout, so
 * the queries read small stand-ins instead, written into the work dir from
 * the seed: `documents` (with near-duplicate pairs, so the n-gram join finds
 * pairs), `embeddings`, `events`, and the repository's people fixture. The
 * schemas are those of the test tables.
 */
object SweepModules {

  /** (module layer, the query that stands for it). */
  val Queries: Seq[(String, String)] = Seq(
    "core" -> "q08_running_window",
    "clean" -> "q22_normalize_text",
    "text" -> "q13_text_stats",
    "dedup" -> "q20_ngram_jaccard",
    "sample" -> "q41_source_quota",
    "stats" -> "q43_token_heavy_hitters",
    "sim" -> "q19_cosine_top1",
    "semantic" -> "q28_semantic_issues",
    "multimodal" -> "q32_media_metadata")

  val Layers: Seq[String] = Queries.map(_._1)

  val Docs = 300
  val Vectors = 1000
  val Dim = 16
  val Events = 20000

  /** Fewer words than q43's Misra–Gries capacity (64), so its summary is
    * exact and the GROUP BY oracle applies. */
  private val Vocab = ("the a of and key agg row scan slow fast table value part " +
    "hash merge batch line sort window data column join small customer query " +
    "big order stream group filter vector spark").split(" ").toIndexedSeq
  private val Langs = Seq("en", "en", "zh", "de", "fr", "es")
  private val EventTypes = Seq("click", "view", "purchase", "signup", "error")
  private val Tables = Seq("documents", "embeddings", "events", "people")

  def run(spark: SparkSession, trace: LayerTrace, dir: String, seed: Long,
          out: Outcome): Unit = {
    trace.unattributed(writeTables(spark, dir, seed))
    Tables.foreach(t => out.tables(t) = s"$dir/$t.parquet/*.parquet")
    Queries.foreach { case (module, q) =>
      out.ops.op(s"$module ($q)") {
        val rows = trace.layer(module)(query(spark, dir, q).collect()).toSeq
        out.oracle += ((q, oracleSql(dir, q),
          rows.map(r => r.getValuesMap[Any](r.schema.fieldNames.toSeq))))
      }
    }
  }

  private def query(spark: SparkSession, dir: String, q: String): DataFrame = q match {
    case "q28_semantic_issues" =>
      // q28's body over the people table in `dir` (the query itself reads the
      // fixture from a fixed path outside the checkout)
      import spark.implicits._
      val people = spark.read.parquet(s"$dir/people.parquet")
      val issues = SemanticValidators.validate(people, Detector.detectTypes(people),
        Timestamp.valueOf("2026-01-01 00:00:00"))
      issues.map(i => (i.column, i.rule_id, i.severity, i.rows_affected))
        .toDF("column", "rule_id", "severity", "rows_affected")
    case _ => SparkEntry.queries(q)(spark, dir)
  }

  private def oracleSql(dir: String, q: String): String = {
    val people = Fixtures.fixturePath("people")
    val sql = OracleSql.all(q)
    require(q != "q28_semantic_issues" || sql.contains(people),
      "the q28 oracle no longer reads the people fixture")
    sql.replace(people, s"$dir/people.parquet")
  }

  /** The stand-in tables, each one parquet file, generated from `seed`. */
  def writeTables(spark: SparkSession, dir: String, seed: Long): Unit = {
    import spark.implicits._
    val r = new Random(seed)
    def word() = Vocab(r.nextInt(Vocab.size))

    // every fourth doc copies the one before it with about 10% of its words
    // replaced: n-gram Jaccard around 0.5
    val texts = mutable.ArrayBuffer.empty[IndexedSeq[String]]
    for (i <- 0 until Docs)
      texts += (if (i % 4 == 3) texts(i - 1).map(w => if (r.nextDouble() < 0.1) word() else w)
                else IndexedSeq.fill(20 + r.nextInt(60))(word()))
    val docs = texts.zipWithIndex.map { case (ws, i) =>
      val text = ws.mkString(" ")
      (i.toLong, text, Langs(r.nextInt(Langs.size)), s"src${r.nextInt(10)}", text.length.toLong)
    }
    write(docs.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars"), s"$dir/documents.parquet")

    val emb = (0 until Vectors).map(i =>
      (i.toLong, Array.fill(Dim)(r.nextGaussian().toFloat), r.nextInt(8)))
    write(emb.toDF("vec_id", "embedding", "label"), s"$dir/embeddings.parquet")

    var ts = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val events = (0 until Events).map { i =>
      ts += r.nextInt(240000)
      (i.toLong, new Timestamp(ts), r.nextInt(200).toLong, EventTypes(r.nextInt(EventTypes.size)),
        math.round(r.nextDouble() * 45000) / 100.0, s"""{"k": ${r.nextInt(100)}}""")
    }
    write(events.toDF("event_id", "ts", "user_id", "event_type", "value", "props"),
      s"$dir/events.parquet")

    write(Fixtures.people(spark), s"$dir/people.parquet")
  }

  private def write(df: DataFrame, path: String): Unit = df.coalesce(1).write.parquet(path)
}

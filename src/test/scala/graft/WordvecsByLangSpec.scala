package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Tokenize
import graft.queries.ReferenceQueries

/** The one-pass per-language dimension ([[ReferenceQueries.wordvecsByLang]])
  * against the multi-pass form it replaced, which mirrors q32's oracle
  * CTE step by step: a distinct vocabulary, occurrences from a `doc_id`
  * semi-join onto the qualifying posts, a left join of the two, and a
  * broadcast per-language `min_raw`. Equality is exact (unrounded
  * doubles, whole rows) on every table whose `doc_id` is unique.
  */
class WordvecsByLangSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def reference(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val tok = docs.select(col("doc_id"), col("lang"),
      explode(Tokenize.tokensByLang(col("text"), col("lang"))).as("token"))
    val vocab = tok.select("lang", "token").distinct()
      .filter(length(col("token")) >= 4)
    val posts = docs.filter(col("n_chars") >= 100).select("doc_id", "lang")
    val nDf = posts.groupBy("lang").agg(count(lit(1)).cast("double").as("n_posts"))
    val occ = tok.join(posts.select("doc_id"), Seq("doc_id"), "left_semi")
      .groupBy("lang", "token").agg(count(lit(1)).as("c"))
    val raw = vocab.join(occ, Seq("lang", "token"), "left")
      .withColumn("occurrences", coalesce(col("c"), lit(0L)))
      .join(broadcast(nDf), Seq("lang"))
      .withColumn("raw",
        when(col("occurrences") > 0, log10(col("n_posts") / col("occurrences")))
          .otherwise(lit(-1.0)))
    val minDf = raw.groupBy("lang").agg(min(col("raw")).as("min_raw"))
    raw.join(broadcast(minDf), Seq("lang"))
      .withColumn("idf",
        when(col("raw") > 0, col("raw")).otherwise(col("min_raw")))
      .withColumn("vec", ReferenceQueries.pseudoVec(col("token")))
      .select("lang", "token", "idf", "vec")
  }

  private type Row4 = (String, String, Double, Seq[Double])

  private def rows(df: DataFrame): Seq[Row4] =
    df.as[Row4].collect().toSeq.sortBy(r => (r._1, r._2))

  /** Asserts exact equality of schema and rows; returns the rows. */
  private def assertSameAsReference(dir: String): Seq[Row4] = {
    val got = ReferenceQueries.wordvecsByLang(spark, dir)
    val want = reference(spark, dir)
    assert(got.schema.map(f => (f.name, f.dataType)) ===
      want.schema.map(f => (f.name, f.dataType)))
    val (g, w) = (rows(got), rows(want))
    assert(g.nonEmpty)
    assert(g.size === w.size)
    g.zip(w).foreach { case (a, b) => assert(a === b) }
    g
  }

  test("one-pass dimension equals the multi-pass reference on sf0.01") {
    val g = assertSameAsReference(sfDir("0.01"))
    assert(g.map(_._1).distinct.sorted === Seq("de", "en", "es", "fr", "zh"))
    assert(g.map(r => (r._1, r._2)).distinct.size === g.size)
  }

  test("one-pass dimension equals the multi-pass reference on a 2x ScaleBlowup") {
    val out = java.nio.file.Files.createTempDirectory("graft_wv_blowup")
      .resolve("sf").toString
    ScaleBlowup.blowup(spark, sfDir("0.01"), out, 2)
    val base = rows(ReferenceQueries.wordvecsByLang(spark, sfDir("0.01")))
    val g = assertSameAsReference(out)
    // replica 1 suffixes each ASCII alnum run, so its vocabulary is new
    assert(g.size > base.size)
  }

  test("one-pass dimension equals the reference on NULL, short-only and all-nonpositive edges") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wv_edges")
    val long = 150L
    val docs = Seq[(java.lang.Long, String, String, java.lang.Long)](
      // en has 3 posts (the NULL-text one counts); "alpha" 40× in them
      // gives raw log10(3/40) < -1, so min_raw is below the -1.0 of
      // "shortonly" and "nullchars", which it floors
      (1L, ("alpha " * 20) + "bravo", "en", long),
      (2L, ("alpha " * 20) + "charlie", "en", long),
      (3L, "alpha shortonly", "en", 40L),
      (4L, "shortonly nullchars", "en", null),
      (5L, null, "en", long),
      // every post of "it" is short: the language has no rows
      (6L, "ciao mondo grande", "it", 20L),
      (7L, "parola lunga", "it", 99L),
      // NULL lang: tokenized by the ASCII fallback, joins no language
      (8L, "nulllang words here", null, long),
      // de: one post, so every raw is log10(1/occ) <= 0
      (9L, "wort wort wort haus", "de", long),
      (10L, "zu", "de", 10L))
      .toDF("doc_id", "text", "lang", "n_chars")
      .withColumn("source", lit("src0"))
    docs.coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    val g = assertSameAsReference(dir.toString)

    assert(!g.exists(_._1 == "it"))
    assert(!g.exists(_._1 == null))
    // Spark's log10 is StrictMath's, which may differ from Math's by an ulp
    val en = g.filter(_._1 == "en").map(r => r._2 -> r._3).toMap
    val enMin = StrictMath.log10(3.0 / 40)
    assert(en("alpha") === enMin)
    assert(en("bravo") === StrictMath.log10(3.0))
    assert(en("shortonly") === enMin)   // occurrences 0 -> raw -1 -> floored
    assert(en("nullchars") === enMin)   // NULL n_chars is not a post
    val de = g.filter(_._1 == "de").map(r => r._2 -> r._3).toMap
    assert(de.keySet === Set("wort", "haus"))
    assert(de.values.toSet === Set(StrictMath.log10(1.0 / 3)))
  }

  /** Every node of an executed plan, through adaptive wrappers, query
    * stages, reused exchanges and subqueries.
    */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case o => o +: (o.children.flatMap(nodes) ++ o.subqueries.flatMap(nodes))
  }

  /** (Generate nodes, joins, joins keyed on doc_id) of the executed plan. */
  private def shape(df: DataFrame): (Int, Int, Int) = {
    df.collect()
    val all = nodes(df.queryExecution.executedPlan)
    val joins = all.collect { case j: BaseJoinExec => j }
    val onDocId = joins.count(j => (j.leftKeys ++ j.rightKeys)
      .exists(_.references.exists(_.name == "doc_id")))
    (all.count(_.isInstanceOf[GenerateExec]), joins.size, onDocId)
  }

  test("plan shape: the corpus is tokenized once and never joined on doc_id") {
    val (generates, joins, onDocId) =
      shape(ReferenceQueries.wordvecsByLang(spark, sfDir("0.01")))
    assert(generates === 1)
    assert(joins >= 1, "the n_posts broadcast join must be visible to the walker")
    assert(onDocId === 0)
    // the walker tells the shapes apart: the reference tokenizes once for
    // the vocabulary and once for the occurrences (each again under the
    // min_raw branch) and semi-joins on doc_id
    val (refGenerates, _, refOnDocId) = shape(reference(spark, sfDir("0.01")))
    assert(refGenerates >= 2)
    assert(refOnDocId >= 1)
  }
}

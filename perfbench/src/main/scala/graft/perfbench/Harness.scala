package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._

import graft.{Caches, Tables}
import graft.functions.{Tokenize, VecMath}
import graft.queries.ReferenceQueries
import graft.sources.Upsert
import graft.streaming.VectorizeStream

/** The JVM side of the benchmark: runs one workload against the
  * program's public (and `graft`-package) functions and writes a raw
  * record of what it saw — pass and poll times, arrival times, output
  * digests, spans and Spark counters. `perfbench/run.py` turns that
  * record into metrics; nothing here decides what a number means.
  *
  * Arguments are `key=value` pairs; see `run.py` for the full list.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val conf = args.map { a =>
      val i = a.indexOf('=')
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val h = new Harness(conf)
    val rec = try h.run() finally h.endSession()
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    mapper.writeValue(new java.io.File(conf("out")), rec)
  }

  /** Files of a directory tree, deepest first (so deletes can follow). */
  private def walk(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).sorted(Comparator.reverseOrder[Path]()).iterator().asScala.toSeq

  def delete(p: Path): Unit = walk(p).foreach(Files.delete)

  def copyTree(from: Path, to: Path): Unit =
    walk(from).reverse.foreach { f =>
      val dst = to.resolve(from.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(dst)
      else Files.copy(f, dst, StandardCopyOption.REPLACE_EXISTING)
    }

  /** (bytes, files) of the parquet data files under `p`. */
  def parquetSize(p: Path): (Long, Long) = {
    val files = walk(p).filter(f => Files.isRegularFile(f) &&
      f.getFileName.toString.endsWith(".parquet"))
    (files.map(Files.size).sum, files.size.toLong)
  }

  /** Exchange nodes in a physical plan, looking through adaptive
    * wrappers and query stages. Read after the plan ran, an adaptive
    * plan is its final form, with any exchanges that adaptive execution
    * replaced at run time. Cached relations the plan reads (the
    * dimension) are leaves: their own exchanges ran when they were built.
    */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case o => o.children.map(exchanges).sum + o.subqueries.map(exchanges).sum
  }

  /** The plan that filled the first cached relation `p` reads. */
  def cachedPlan(p: SparkPlan): Option[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => cachedPlan(a.executedPlan)
    case m: InMemoryTableScanExec => Some(m.relation.cachedPlan)
    case o => o.children.iterator.flatMap(cachedPlan).nextOption()
  }

  /** The rounding the declared queries use: floor(x * 1e6 + 0.5) / 1e6. */
  def r6(c: Column): Column = floor(c * 1e6 + lit(0.5)) / 1e6

  /** The rounded (doc_id, lang, known_ratio, l2 norm) projection the
    * streaming spec compares the store with.
    */
  def projected(vectors: DataFrame): DataFrame = vectors.select(col("doc_id"),
    col("lang"), r6(col("known_ratio")).as("kr"),
    r6(sqrt(VecMath.dot(col("vec"), col("vec")))).as("nrm"))

  /** The rounded (lang, token, idf, l2 norm of vec) projection of the
    * dimension.
    */
  def dimProjected(wv: DataFrame): DataFrame = wv.select(col("lang"), col("token"),
    r6(col("idf")).as("idf"), r6(sqrt(VecMath.dot(col("vec"), col("vec")))).as("nrm"))

  /** (rows, distinct keys, digest) of a projected frame. The digest is
    * the bit_xor of the rows' xxhash64, so row order and file split do
    * not change it.
    */
  def digest(p: DataFrame, keys: String*): (Long, Long, String) = {
    val row = p.agg(count(lit(1)), count_distinct(col(keys.head), keys.tail.map(col): _*),
        bit_xor(xxhash64(p.columns.toIndexedSeq.map(col): _*)))
      .head()
    (row.getLong(0), row.getLong(1), java.lang.Long.toHexString(row.getLong(2)))
  }
}

final class Harness(conf: Map[String, String]) {
  import Harness._

  private val workload = conf("workload")
  private val seconds = conf("seconds").toDouble
  private val cores = conf("cores").toInt
  private val reps = conf("setup_reps").toInt
  private val warmups = conf("warmups").toInt
  // A slow run still yields a median of four passes.
  private val MinPasses = 4
  private val corpus = conf("corpus")
  private val work = Paths.get(conf("work"))
  private val t0 = System.nanoTime()
  private val tracer = new Tracer(conf("trace") == "1",
    s"$workload-s${conf("seed")}-${System.currentTimeMillis()}", t0)

  private var spark: SparkSession = _
  private var jobs: JobListener = _
  private var progress: ProgressListener = _
  private val counters = mutable.Map.empty[Long, Counters]
  private val progressByRun = mutable.Map.empty[String, Seq[Map[String, Any]]]
  private var sparkConf = Map.empty[String, String]
  private val caches = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var dimRows = 0L

  private def startSession(): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    if (tracer.on) {
      jobs = new JobListener
      s.sparkContext.addSparkListener(jobs)
      progress = new ProgressListener
      s.streams.addListener(progress)
    }
    tracer.attach(s.sparkContext)
    sparkConf = s.sparkContext.getConf.getAll.toMap
    s
  }

  /** Release the program's caches, stop Spark, collect the counters.
    * Stopping Spark delivers every queued listener event first.
    */
  def endSession(): Unit = if (spark != null) {
    Caches.clearAll()
    spark.stop()
    if (tracer.on) {
      jobs.synchronized(jobs.bySpan.foreach { case (id, c) =>
        counters.getOrElseUpdate(id, new Counters).add(c)
      })
      progress.synchronized(progress.byRun.foreach { case (id, ps) =>
        progressByRun(id) = ps.toSeq
      })
    }
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  private def noteCaches(after: String): Unit = {
    val sc = spark.sparkContext
    caches += Map("after" -> after,
      "persisted_rdds" -> sc.getPersistentRDDs.size,
      "storage_mem_bytes" -> sc.getRDDStorageInfo.map(_.memSize).sum)
  }

  /** The per-language idf/word-vector dimension, built once per session. */
  private def buildDim(): DataFrame = tracer("dim") {
    val wv = Caches.persist(ReferenceQueries.wordvecsByLang(spark, corpus))
    dimRows = wv.count()
    wv
  }

  private def vectors(docs: DataFrame, dim: DataFrame): DataFrame =
    ReferenceQueries.docVectorsByLang(docs, dim, ReferenceQueries.VecDim)
      .select("doc_id", "lang", "known_ratio", "vec")

  /** `reps` set-up rounds, each in a fresh session: start the session,
    * build the dimension, run `warmups` warm-up passes or polls. The
    * last round's session and dimension are kept. `prepare` runs before
    * each round's clock; `warm` gets the round and the warm-up's index.
    * Without `dimFirst` the round keeps no dimension: the workload's own
    * operation builds it, and a cached one would answer that build.
    */
  private def setup(times: mutable.ArrayBuffer[Double], prepare: Int => Unit,
      warm: (Int, Int, DataFrame) => Unit, dimFirst: Boolean = true): DataFrame = {
    var dim: DataFrame = null
    for (r <- 0 until reps) {
      endSession()
      prepare(r)
      val start = tracer.now
      tracer("setup") {
        spark = tracer("session")(startSession())
        dim = if (dimFirst) buildDim() else null
        tracer("warmup")((0 until warmups).foreach(i => warm(r, i, dim)))
      }
      times += tracer.now - start
    }
    dim
  }

  def run(): Map[String, Any] = {
    Files.createDirectories(work)
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    val body = workload match {
      case "idf_dimension" => idfDimension(setupTimes)
      case "vectorize_corpus" => vectorizeCorpus(setupTimes)
      case "stream_upsert" => streamUpsert(setupTimes)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    endSession()
    body ++ Map(
      "workload" -> workload, "seed" -> conf("seed").toLong,
      "trace" -> tracer.on, "cores" -> cores, "run_id" -> tracer.run,
      "setup_s" -> setupTimes.toSeq, "dim_rows" -> dimRows,
      "caches" -> caches.toSeq, "spans" -> tracer.spans.toSeq.map(s => Map(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
        "start" -> s.start, "end" -> s.end)),
      "counters" -> counters.map { case (id, c) => id.toString -> c.toMap }.toMap,
      "progress" -> progressByRun.toMap,
      "spark_conf" -> sparkConf,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory)
  }

  // ---------------------------------------------------------------- batch

  private var tokens, tableBytes = 0L
  private var exch = 0

  /** One batch pass: every post of `dir`'s documents through
    * `docVectorsByLang`, written to `out` with `Upsert.overwriteParquet`.
    * A traced pass forces each layer's frame at its own boundary (a noop
    * scan, a token count, a persisted vector frame), so each span holds
    * its layer's jobs; an untraced pass runs the three calls fused.
    */
  private def pass(dim: DataFrame, dir: String, out: Path): Unit = tracer("pass") {
    if (!tracer.on) {
      Upsert.overwriteParquet(vectors(Tables.documents(spark, dir), dim), out.toString)
    } else {
      val docs = tracer("tables")(scan(dir))
      val dv = tracer("docvec") {
        tracer("tokenize")(countTokens(docs))
        val v = vectors(docs, dim)
        v.persist()
        v.count()
        // the plan that just ran is the one that filled v's cache; a new
        // frame over v is planned against that cache (-1 if it is not)
        exch = cachedPlan(v.select(v.columns.map(col).toIndexedSeq: _*)
          .queryExecution.executedPlan).map(exchanges).getOrElse(-1)
        v
      }
      tracer("store")(Upsert.overwriteParquet(dv, out.toString))
      dv.unpersist(blocking = true)
    }
  }

  /** `Tables.documents` of `dir`, scanned once with a noop write. */
  private def scan(dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.write.format("noop").mode("overwrite").save()
    tableBytes = d.inputFiles.map(f => Files.size(Paths.get(new java.net.URI(f)))).sum
    d
  }

  private def countTokens(docs: DataFrame): Unit =
    tokens = docs.select(explode(Tokenize.tokensByLang(col("text"), col("lang")))).count()

  /** Runs `op` back to back until `seconds` of it are measured (and at
    * least [[MinPasses]] times). After each run, untimed, `check` reads
    * its output: (rows, distinct keys, digest).
    */
  private def measure(op: () => Unit,
      check: () => (Long, Long, String)): Seq[Map[String, Any]] = {
    val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
    var measured = 0.0
    while (measured < seconds || runs.size < MinPasses) {
      val a = tracer.now
      val err = try { op(); null } catch { case e: Exception => e.toString }
      val b = tracer.now
      measured += b - a
      val checked = if (err != null) Map.empty[String, Any] else {
        val (n, distinct, d) = check()
        Map("rows" -> n, "distinct" -> distinct, "digest" -> d)
      }
      runs += Map("start" -> a, "end" -> b, "error" -> err) ++ checked
      noteCaches(s"pass ${runs.size}")
    }
    runs.toSeq
  }

  /** The paper's batch re-vectorization of the whole corpus. */
  private def vectorizeCorpus(setupTimes: mutable.ArrayBuffer[Double]): Map[String, Any] = {
    val out = work.resolve("store")
    val dim = setup(setupTimes, _ => (), (_, _, d) => pass(d, corpus, out))
    val passes = measure(() => pass(dim, corpus, out),
      () => digest(projected(spark.read.parquet(out.toString)), "doc_id"))
    val (bytes, files) = parquetSize(out)
    val probe = if (tracer.on) probeStream(dim, out) else Map.empty[String, Any]
    Map("passes" -> passes, "posts" -> conf("posts").toLong,
      "tokens" -> tokens, "exchanges" -> exch, "table_bytes" -> tableBytes,
      "store" -> Map("bytes" -> bytes, "files" -> files,
        "rows" -> passes.last.getOrElse("rows", 0L))) ++ probe
  }

  // ------------------------------------------------------------------ idf

  /** One build of the dimension over every post, persisted and counted
    * so that every column is computed; the caller unpersists it. A
    * traced build first forces the scan and the tokens at their own
    * spans, as a traced pass does.
    */
  private def build(): DataFrame = tracer("build") {
    if (tracer.on) tracer("tokenize")(countTokens(tracer("tables")(scan(corpus))))
    tracer("dim") {
      val wv = ReferenceQueries.wordvecsByLang(spark, corpus).persist()
      dimRows = wv.count()
      wv
    }
  }

  /** The paper's idf job (`calculate_idf_scores.py`): the per-language
    * idf/word-vector dimension rebuilt over the whole corpus.
    */
  private def idfDimension(setupTimes: mutable.ArrayBuffer[Double]): Map[String, Any] = {
    setup(setupTimes, _ => (), (_, _, _) => build().unpersist(blocking = true),
      dimFirst = false)
    var built: DataFrame = null
    val builds = measure(() => built = build(), () => {
      val r = digest(dimProjected(built), "lang", "token")
      built.unpersist(blocking = true)
      r
    })
    // traced runs probe the vector and store layers with one pass over
    // the corpus, then the stream layers with one poll into its store
    val probe = if (!tracer.on) Map.empty[String, Any] else {
      val out = work.resolve("store")
      val dim = buildDim()
      pass(dim, corpus, out)
      val (bytes, files) = parquetSize(out)
      probeStream(dim, out) ++ Map("exchanges" -> exch,
        "store" -> Map("bytes" -> bytes, "files" -> files,
          "rows" -> spark.read.parquet(out.toString).count()))
    }
    Map("passes" -> builds, "posts" -> conf("posts").toLong, "tokens" -> tokens,
      "table_bytes" -> tableBytes) ++ probe
  }

  /** One arrival file upserted into `store` with one poll: the stream
    * layers, probed once by a batch workload's traced run.
    */
  private def probeStream(dim: DataFrame, store: Path): Map[String, Any] = {
    val p = work.resolve("probe")
    delete(p)
    copyTree(Paths.get(conf("arrivals")).resolve("warmup"), p.resolve("staging"))
    Files.createDirectories(p.resolve("watch"))
    val file = "w_00000.parquet"
    val scheduled = tracer.now
    Files.move(p.resolve("staging").resolve(file), p.resolve("watch").resolve(file),
      StandardCopyOption.ATOMIC_MOVE)
    val moved = tracer.now
    val runId = poll(p.resolve("watch"), dim, store, p.resolve("ckpt"))
    val end = tracer.now
    Map("arrivals" -> Seq(Map("index" -> 0, "scheduled" -> scheduled,
        "moved" -> moved, "committed" -> end, "posts" -> conf("posts_per_file").toLong)),
      "polls" -> Seq(Map("start" -> moved, "end" -> end, "files" -> 1,
        "run_id" -> runId, "error" -> null)))
  }

  // ---------------------------------------------------------------- stream

  /** The vectors of the whole corpus, written once per corpus and
    * program build as a generated input (untimed).
    */
  private def initialStore(): Path = {
    val dir = Paths.get(conf("store_cache"))
    val mark = dir.resolve("FINGERPRINT")
    val key = conf("store_key")
    val fresh = Files.exists(mark) && new String(Files.readAllBytes(mark), "UTF-8") == key
    if (!fresh) {
      delete(dir)
      spark = startSession()
      val dim = Caches.persist(ReferenceQueries.wordvecsByLang(spark, corpus))
      Upsert.overwriteParquet(vectors(Tables.documents(spark, corpus), dim),
        dir.resolve("store").toString)
      endSession()
      Files.write(mark, key.getBytes("UTF-8"))
    }
    dir.resolve("store")
  }

  /** Arrival-file indices the checkpoint's source log has committed. */
  private def committedFiles(ckpt: Path): Set[Int] = {
    val log = ckpt.resolve("sources").resolve("0")
    if (!Files.exists(log)) Set.empty
    else {
      val name = "\"path\":\"[^\"]*a_(\\d+)\\.parquet\"".r
      Files.list(log).iterator().asScala.filter(Files.isRegularFile(_))
        .filterNot(_.getFileName.toString.startsWith("."))
        .flatMap(f => name.findAllMatchIn(new String(Files.readAllBytes(f), "UTF-8"))
          .map(_.group(1).toInt))
        .toSet
    }
  }

  private def poll(watch: Path, dim: DataFrame, store: Path, ckpt: Path): String =
    tracer("poll") {
      val q = VectorizeStream.start(spark, watch.toString, dim,
        ReferenceQueries.VecDim, store.toString, ckpt.toString)
      q.awaitTermination()
      q.runId.toString
    }

  /** The paper's always-on worker as an open loop: a generator thread
    * moves arrival files into the watched directory on a fixed
    * schedule while the worker polls back-to-back.
    */
  private def streamUpsert(setupTimes: mutable.ArrayBuffer[Double]): Map[String, Any] = {
    val init = initialStore()
    val arrivals = Paths.get(conf("arrivals"))
    val nFiles = conf("files").toInt
    val filesPerS = conf("files_per_s").toDouble
    def name(i: Int) = f"a_$i%05d.parquet"

    val dim = setup(setupTimes,
      r => {
        val w = work.resolve(s"warm$r")
        delete(w)
        Files.createDirectories(w.resolve("watch"))
        copyTree(arrivals.resolve("warmup"), w.resolve("watch"))
        copyTree(init, w.resolve("store"))
      },
      (r, i, d) => {
        // a fresh checkpoint per warm-up poll, so each one re-merges the file
        val w = work.resolve(s"warm$r")
        poll(w.resolve("watch"), d, w.resolve("store"), w.resolve(s"ckpt$i"))
      })

    val store = work.resolve("store")
    val staging = work.resolve("staging")
    val watch = work.resolve("watch")
    val ckpt = work.resolve("ckpt")
    Seq(store, staging, watch, ckpt).foreach(delete)
    copyTree(init, store)
    Files.createDirectories(watch)
    copyTree(arrivals.resolve("files"), staging)
    val nowMs = java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis())
    (0 until nFiles).foreach(i => Files.setLastModifiedTime(staging.resolve(name(i)), nowMs))

    val scheduled = Array.tabulate(nFiles)(i => i / filesPerS)
    val moved = Array.fill(nFiles)(Double.NaN)
    val committed = Array.fill(nFiles)(Double.NaN)
    val start = tracer.now + 0.5
    def sleepUntil(t: Double): Unit = {
      val ms = ((t - tracer.now) * 1e3).toLong
      if (ms > 0) Thread.sleep(ms)
    }
    val gen = new Thread(() => for (i <- 0 until nFiles) {
      sleepUntil(start + scheduled(i))
      Files.move(staging.resolve(name(i)), watch.resolve(name(i)),
        StandardCopyOption.ATOMIC_MOVE)
      moved(i) = tracer.now
    }, "perfbench-generator")
    gen.setDaemon(true)
    gen.start()
    sleepUntil(start)

    val polls = mutable.ArrayBuffer.empty[Map[String, Any]]
    val deadline = start + seconds + conf("drain_s").toDouble
    while (committed.exists(_.isNaN) && tracer.now < deadline) {
      val a = tracer.now
      var runId: String = null
      val err = try { runId = poll(watch, dim, store, ckpt); null }
      catch { case e: Exception => e.toString }
      val b = tracer.now
      val fresh = committedFiles(ckpt).filter(i => committed(i).isNaN)
      fresh.foreach(i => committed(i) = b)
      polls += Map("start" -> a, "end" -> b, "files" -> fresh.size,
        "run_id" -> runId, "error" -> err)
      noteCaches(s"poll ${polls.size}")
    }
    gen.join()

    // the final store against a batch run over the final corpus state:
    // the corpus with every arrival applied (each doc_id arrives once)
    val arrived = spark.read.schema(VectorizeStream.docSchema).parquet(watch.toString)
    val finalCorpus = Tables.documents(spark, corpus)
      .join(arrived.select("doc_id"), Seq("doc_id"), "left_anti")
      .unionByName(arrived)
    val got = projected(spark.read.parquet(store.toString))
    val want = projected(vectors(finalCorpus, dim)).persist()
    val (rows, distinct, gotDigest) = digest(got, "doc_id")
    val mismatched =
      if (digest(want, "doc_id") == (rows, distinct, gotDigest)) 0L
      else got.exceptAll(want).count() + want.exceptAll(got).count()
    want.unpersist(blocking = true)
    val (bytes, files) = parquetSize(store)

    // traced runs probe the batch layers once: one pass over the posts
    // that arrived in the window, the tiny batch the polls vectorized
    if (tracer.on) {
      val p = work.resolve("probe")
      delete(p)
      copyTree(watch, p.resolve("documents.parquet"))
      pass(dim, p.toString, p.resolve("store"))
    }

    def opt(x: Double): Any = if (x.isNaN) null else x
    Map(
      "arrivals" -> (0 until nFiles).map(i => Map("index" -> i,
        "scheduled" -> (start + scheduled(i)), "moved" -> opt(moved(i)),
        "committed" -> opt(committed(i)), "posts" -> conf("posts_per_file").toLong)),
      "window_start" -> start,
      "polls" -> polls.toSeq,
      "tokens" -> tokens, "exchanges" -> exch, "table_bytes" -> tableBytes,
      "check" -> Map("rows" -> rows, "distinct" -> distinct,
        "mismatched" -> mismatched),
      "store" -> Map("bytes" -> bytes, "files" -> files, "rows" -> rows))
  }
}

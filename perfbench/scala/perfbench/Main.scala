package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.Engine
import graft.operators.{Cleaning, Dedup, Search, Similarity}
import graft.sources.JdbcUpsert
import graft.streaming.IncrementalIngest

/** JVM side of the benchmark: one workload, one process.
  *
  * Usage: perfbench.Main <workload> <inputs dir> <work dir> <result file>
  *        <seconds> <trace 0|1> <cpus> <setup rounds>
  *
  * The session copies Bench.scala's static confs, then runs Engine.tune and
  * Engine.assertOracleKnobsUnset, so this measures the engine Bench measures.
  * Set-up (session, stores, warm-up) runs `rounds` times from scratch and
  * the median is reported; only the last round's state is used, and it is
  * warmed up once more before timing. The timed
  * loop is closed with one client and runs whole cycles of ops (see
  * [[Workload.cycle]]) until `seconds` have passed, so every run does the
  * same mix of work. With tracing on, the first half of the window runs
  * untraced and the second traced; both halves are whole cycles, so the
  * difference between their medians is the tracing overhead. Outputs for
  * the correctness checks are written to the result file; they are checked
  * by check.py.
  */
object Main {

  /** The layers, named after the public function each span wraps. */
  val Layers: Seq[String] = Seq(
    "streaming.IncrementalIngest.ingestOnce",
    "operators.Cleaning.queries",
    "operators.Dedup.screenBatch",
    "operators.Dedup.refreshIndex",
    "operators.Dedup.compactIndex",
    "sources.JdbcUpsert.upsert",
    "operators.Search.bm25",
    "operators.Similarity.screenVecBatch",
    "operators.Relational.queries",
    "operators.Analytics.queries",
    "operators.Temporal.queries",
    "operators.TextOps.queries",
    "operators.Events.queries")

  def session(cpus: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.shuffle.sort.bypassMergeThreshold", "1")
      .config("spark.hadoop.fs.file.impl", classOf[graft.sources.NioLocalFileSystem].getName)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    Engine.tune(spark)
    Engine.assertOracleKnobsUnset(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** What one timed operation reports: its kind, the source rows it
    * carried (ingest) or 1, and whether it failed. */
  final case class Op(kind: String, units: Long, failed: Boolean)

  trait Workload {
    /** Build this round's stores under `dir` and warm up. */
    def setup(spark: SparkSession, tr: Tracer, dir: Path): Unit
    def op(spark: SparkSession, tr: Tracer, i: Int): Op
    /** Ops per cycle: the loop stops only at a multiple of it. */
    def cycle: Int
    def hasNext(i: Int): Boolean = true
    /** Untimed, once, after the set-up rounds and before the loop: more
      * warm-up in the session the loop will use. */
    def prepare(spark: SparkSession, tr: Tracer): Unit
    /** Untimed, after the loop: outputs for check.py. */
    def outputs(spark: SparkSession): Map[String, Any]
    def provenance: Map[String, Any] = Map.empty
  }

  def main(args: Array[String]): Unit = {
    val Array(name, inputs, workDir, resultFile, secs, traceArg, cpusArg, roundsArg) = args
    val seconds = secs.toDouble
    val trace = traceArg == "1"
    val cpus = cpusArg.toInt
    val work = Paths.get(workDir).toAbsolutePath
    val in = Paths.get(inputs).toAbsolutePath
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val rounds = roundsArg.toInt

    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var tracer: Tracer = null
    var wl: Workload = null
    for (r <- 0 until rounds) {
      val t0 = if (r == 0) jvmStartMs else System.currentTimeMillis()
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      spark = session(cpus, work)
      tracer = new Tracer(spark)
      wl = name match {
        case "ingest_pipeline" => new IngestPipeline(in)
        case "serving_probes" => new ServingProbes(in)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      wl.setup(spark, tracer, work.resolve(s"round$r"))
      setupS += (System.currentTimeMillis() - t0) / 1000.0
    }

    val prepT0 = System.nanoTime()
    wl.prepare(spark, tracer)
    val prepareS = (System.nanoTime() - prepT0) / 1e9

    // closed loop, one client, whole cycles; traced runs split the window
    // in two halves
    final case class Phase(lat: mutable.ArrayBuffer[Double], kinds: mutable.ArrayBuffer[String],
                           var units: Long, var wall: Double)
    var i = 0
    var attempted, failed = 0L
    def loop(budget: Double): Phase = {
      val ph = Phase(mutable.ArrayBuffer.empty, mutable.ArrayBuffer.empty, 0L, 0.0)
      val start = System.nanoTime()
      def more = (System.nanoTime() - start) / 1e9 < budget || i % wl.cycle != 0
      while (more && wl.hasNext(i)) {
        val t = System.nanoTime()
        val op = try wl.op(spark, tracer, i) catch {
          case e: Exception =>
            System.err.println(s"[perfbench] op $i failed: $e")
            Op("error", 0L, failed = true)
        }
        ph.lat += (System.nanoTime() - t) / 1e6
        ph.kinds += op.kind
        ph.units += op.units
        attempted += 1
        if (op.failed) failed += 1
        i += 1
      }
      ph.wall = (System.nanoTime() - start) / 1e9
      ph
    }
    val (plain, traced) =
      if (!trace) (loop(seconds), None)
      else {
        val p = loop(seconds / 2)
        tracer.start()
        val t = loop(seconds / 2)
        tracer.drain()
        (p, Some(t))
      }
    val outputs = wl.outputs(spark)
    val rssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

    def phaseJson(p: Phase) = Map("latencies_ms" -> p.lat.toSeq, "kinds" -> p.kinds.toSeq,
      "units" -> p.units, "wall_s" -> p.wall)
    val layerOut = traced.map { _ =>
      val (ms, extra) = tracer.metrics(Layers)
      Map("metrics" -> ms.map { case (k, v, u) => Map("name" -> k, "value" -> v, "unit" -> u) },
        "extra" -> extra,
        "spans" -> tracer.spanRecords.map(s => Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent.orNull, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
          "wall_ns" -> s.wallNs, "codegen_compiles" -> s.compiles)))
    }
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql") || k.startsWith("spark.shuffle") || k == "spark.master" ||
        k.startsWith("spark.hadoop") }
    val result = Map(
      "workload" -> name, "setup_s" -> setupS.toSeq, "prepare_s" -> prepareS,
      "plain" -> phaseJson(plain),
      "traced" -> traced.map(phaseJson).orNull, "attempted" -> attempted, "failed" -> failed,
      "peak_rss_mb" -> rssMb, "outputs" -> outputs, "provenance" -> wl.provenance,
      "session_conf" -> conf, "spark_version" -> spark.version,
      "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "layers" -> layerOut.orNull)
    implicit val formats: Formats = DefaultFormats
    Files.writeString(Paths.get(resultFile),
      JsonMethods.compact(JsonMethods.render(Extraction.decompose(result))))
    spark.stop()
  }
}

/** Arriving batches processed one at a time: land -> ingestOnce ->
  * Cleaning -> Dedup.screenBatch -> Dedup.refreshIndex -> JdbcUpsert.upsert,
  * with Dedup.compactIndex in the last batch of every [[CompactEvery]]. */
final class IngestPipeline(in: Path) extends Main.Workload {
  // a cycle is CompactEvery batches, the last of them compacting, so each
  // run (and each half of a traced run) times whole cycles with exactly one
  // compaction per cycle; warm-up batches compact too, to warm that path
  val CompactEvery = 4
  val WarmBatches = 1
  def cycle: Int = CompactEvery
  private val tables = Seq("orders", "lineitem", "documents")
  private val schemas = Map(
    "orders" -> StructType.fromDDL("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING"),
    "lineitem" -> StructType.fromDDL("l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, " +
      "l_linenumber INT, l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, " +
      "l_tax DOUBLE, l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP"),
    "documents" -> StructType.fromDDL("doc_id BIGINT, text STRING, lang STRING, " +
      "source STRING, n_chars BIGINT"))
  private val nStaged = Using.resource(Files.list(in.resolve("batches")))(_.count().toInt)
  private var dir: Path = _
  private var url: String = _
  private val perBatch = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var next = 0

  private def idxPath = dir.resolve("dedup_index").toString

  private def dataFiles(d: Path): Set[Path] =
    if (!Files.isDirectory(d)) Set.empty
    else Using.resource(Files.list(d))(_.iterator().asScala
      .filter(f => f.getFileName.toString.endsWith(".parquet")).toSet)

  def setup(spark: SparkSession, tr: Tracer, d: Path): Unit = {
    dir = d
    Files.createDirectories(d)
    tables.foreach(t => Files.createDirectories(d.resolve("landing").resolve(t)))
    // in-memory: the commit fsyncs of an on-disk database made batch
    // latency follow the host's disk rather than the engine
    url = s"jdbc:derby:memory:pb_${d.getFileName};create=true"
    val base = spark.read.parquet(in.resolve("base_docs.parquet").toString)
      .select(col("doc_id"), col("text"))
    Dedup.persistIndex(Dedup.buildIndex(base), idxPath, "base")
    JdbcUpsert.ensureTable(url, "PB_LINEITEM", upsertSchema, Seq("l_orderkey", "l_linenumber"))
    perBatch.clear()
    next = 0
    (0 until WarmBatches).foreach(_ => batch(spark, tr, compact = true))
  }

  private val upsertSchema = StructType.fromDDL("l_orderkey BIGINT, l_linenumber INT, " +
    "l_quantity DOUBLE, l_extendedprice DECIMAL(12,2), l_returnflag STRING, " +
    "l_linestatus STRING, l_batch INT")

  def prepare(spark: SparkSession, tr: Tracer): Unit =
    (0 until WarmBatches).foreach(_ => batch(spark, tr, compact = true))

  override def hasNext(i: Int): Boolean = next < nStaged

  def op(spark: SparkSession, tr: Tracer, i: Int): Main.Op =
    batch(spark, tr, compact = (i + 1) % CompactEvery == 0)

  private def batch(spark: SparkSession, tr: Tracer,
                    compact: Boolean): Main.Op = tr.span("ingest_pipeline.batch") {
    val b = next
    next += 1
    val tag = f"$b%04d"
    val stage = dir.resolve("stage").resolve(tag)
    // land: an atomic rename into each table's landing zone
    var rows = 0L
    for (t <- tables) {
      val src = in.resolve("batches").resolve(tag).resolve(s"$t.csv")
      val tmp = dir.resolve("landing").resolve(t).resolve(s".$tag.csv")
      Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
      Files.move(tmp, tmp.resolveSibling(s"$tag.csv"), StandardCopyOption.ATOMIC_MOVE)
      rows += Files.readAllLines(src).size - 1
    }
    // ingest into each table's lake; the files the run added are this
    // batch's, exposed to the Cleaning queries as the batch's own tables
    for (t <- tables) {
      val lake = dir.resolve("lake").resolve(t)
      val before = dataFiles(lake)
      tr.span("streaming.IncrementalIngest.ingestOnce") {
        IncrementalIngest.ingestOnce(spark, dir.resolve("landing").resolve(t).toString,
          dir.resolve("ckpt").resolve(t).toString, lake.toString, schemas(t))
      }
      val out = Files.createDirectories(stage.resolve(s"$t.parquet"))
      (dataFiles(lake) -- before).foreach(f => Files.copy(f, out.resolve(f.getFileName)))
    }
    val (dl, dead, dates) = tr.span("operators.Cleaning.queries") {
      (Cleaning.deadLetter(spark, stage.toString).collect().head,
        Cleaning.deadLetterRows(spark, stage.toString).select("l_orderkey", "l_linenumber")
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet,
        Cleaning.datesRobust(spark, stage.toString).collect().head)
    }
    val docs = spark.read.parquet(stage.resolve("documents.parquet").toString)
      .select(col("doc_id"), col("text"))
    val decisions = tr.span("operators.Dedup.screenBatch") {
      Dedup.screenBatch(Dedup.loadIndex(spark, idxPath), docs).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    }
    val accepted = decisions.collect { case (id, "accept") => id }.toSeq
    tr.span("operators.Dedup.refreshIndex") {
      Dedup.refreshIndex(spark, idxPath, docs.filter(col("doc_id").isin(accepted: _*)))
    }
    if (compact)
      tr.span("operators.Dedup.compactIndex")(Dedup.compactIndex(spark, idxPath))
    val deadKeys = spark.createDataFrame(
      dead.toSeq.map { case (o, l) => Row(o, l) }.asJava,
      StructType.fromDDL("l_orderkey BIGINT, l_linenumber INT"))
    val good = spark.read.parquet(stage.resolve("lineitem.parquet").toString)
      .join(deadKeys, Seq("l_orderkey", "l_linenumber"), "left_anti")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice").cast(DecimalType(12, 2)).as("l_extendedprice"),
        col("l_returnflag"), col("l_linestatus"), lit(b).as("l_batch"))
    val nDead = tr.span("sources.JdbcUpsert.upsert") {
      JdbcUpsert.upsert(good, url, "PB_LINEITEM", Seq("l_orderkey", "l_linenumber"),
        chunkSize = 500, retrySize = 100).count()
    }
    perBatch += Map("batch" -> b, "rows_landed" -> rows,
      "n_in" -> dl.getAs[Long]("n_in"), "n_good" -> dl.getAs[Long]("n_good"),
      "n_dead" -> dl.getAs[Long]("n_dead"), "dead_keys" -> dead.size,
      "dates_total" -> dates.getAs[Long]("n_total"), "upsert_dead" -> nDead,
      "upsert_sent" -> (dl.getAs[Long]("n_in") - dead.size),
      "compacted" -> compact, "decisions" -> decisions.map { case (k, v) => k.toString -> v })
    Main.Op(if (compact) "compacting_batch" else "batch", rows, failed = false)
  }

  def outputs(spark: SparkSession): Map[String, Any] = {
    // a repeat ingest with nothing new landed must add no rows
    val lake = dir.resolve("lake").resolve("lineitem").toString
    val rowsBefore = spark.read.parquet(lake).count()
    IncrementalIngest.ingestOnce(spark, dir.resolve("landing").resolve("lineitem").toString,
      dir.resolve("ckpt").resolve("lineitem").toString, lake, schemas("lineitem"))
    val repeatRows = spark.read.parquet(lake).count() - rowsBefore
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      def one(sql: String): String = {
        val rs = st.executeQuery(sql)
        rs.next()
        val v = rs.getString(1)
        rs.close()
        v
      }
      def tally(c: String): Map[String, Long] = {
        val rs = st.executeQuery(s"SELECT $c, COUNT(*) FROM PB_LINEITEM GROUP BY $c")
        val m = mutable.Map.empty[String, Long]
        while (rs.next()) m(rs.getString(1)) = rs.getLong(2)
        rs.close()
        m.toMap
      }
      Map("batches" -> perBatch.toSeq, "repeat_ingest_rows" -> repeatRows,
        "table_count" -> one("SELECT COUNT(*) FROM PB_LINEITEM").toLong,
        "table_sum" -> one("SELECT SUM(l_extendedprice) FROM PB_LINEITEM"),
        "linestatus" -> tally("l_linestatus"), "returnflag" -> tally("l_returnflag"))
    } finally conn.close()
  }

  override def provenance: Map[String, Any] = Map("cycle_batches" -> CompactEvery,
    "compacting_batches_per_cycle" -> 1,
    "warmup_batches_per_round" -> WarmBatches, "warmup_batches_after_rounds" -> WarmBatches,
    "upsert_chunk" -> 500, "upsert_retry" -> 100,
    "derby" -> "embedded, in memory")

}

/** A read-only probe mix against stores built in set-up, plus report
  * probes over generated tables. */
final class ServingProbes(in: Path) extends Main.Workload {
  private implicit val formats: Formats = DefaultFormats
  private val probes = JsonMethods.parse(Files.readString(in.resolve("probes.json"))).children
  /** Probes per cycle of the generated mix: bm25, screen, vec, screen,
    * report, screen (gen.py). */
  val cycle = 6
  /** Warm-up: one probe of each kind from the list's last cycle, which the
    * timed loop never reaches. */
  private val warm = (probes.size - cycle until probes.size)
    .groupBy(i => (probes(i) \ "kind").extract[String]).values.map(_.head).toSeq.sorted
  /** A report probe runs the first registered query of each analytics
    * module into the noop sink, one span per module. */
  private val reports = Seq(
    "operators.Relational.queries" -> graft.operators.Relational,
    "operators.Analytics.queries" -> graft.operators.Analytics,
    "operators.Temporal.queries" -> graft.operators.Temporal,
    "operators.TextOps.queries" -> graft.operators.TextOps,
    "operators.Events.queries" -> graft.operators.Events)
    .map { case (m, mod) => m -> mod.queries.head }
  private val tablesDir = in.resolve("tables").toString
  private var checkDir: Path = _
  private var search: graft.operators.SearchIndex = _
  private var dedup: graft.operators.DedupIndex = _
  private var vec: graft.operators.VecIndex = _
  private val bm25Out = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val screenOut = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var recording = false
  val CheckedBm25 = 20

  def setup(spark: SparkSession, tr: Tracer, d: Path): Unit = {
    checkDir = d.resolve("check")
    val docs = spark.read.parquet(in.resolve("documents.parquet").toString)
    val vecs = spark.read.parquet(in.resolve("embeddings.parquet").toString)
    Search.persistIndex(spark, d.resolve("search").toString, "bench", docs)
    Dedup.persistIndex(Dedup.buildIndex(docs.select("doc_id", "text")), d.resolve("dedup").toString)
    Similarity.persistVecIndex(Similarity.buildVecIndex(vecs.select("vec_id", "embedding")),
      d.resolve("vec").toString)
    search = Search.loadIndex(spark, d.resolve("search").toString)
    dedup = Dedup.loadIndex(spark, d.resolve("dedup").toString)
    vec = Similarity.loadVecIndex(spark, d.resolve("vec").toString)
    warm.foreach(i => run(spark, tr, i))
  }

  def prepare(spark: SparkSession, tr: Tracer): Unit = {
    warm.foreach(i => run(spark, tr, i))
    recording = true
  }

  override def hasNext(i: Int): Boolean = i < probes.size - cycle

  def op(spark: SparkSession, tr: Tracer, i: Int): Main.Op = Main.Op(run(spark, tr, i), 1L, false)

  private def run(spark: SparkSession, tr: Tracer, i: Int): String = {
    val p = probes(i)
    val kind = (p \ "kind").extract[String]
    kind match {
      case "bm25" =>
        val terms = (p \ "terms").extract[Seq[String]]
        val q = spark.createDataFrame(terms.map(t => Row(0L, t)).asJava,
          StructType.fromDDL("qid BIGINT, tok STRING"))
        val top = tr.span("operators.Search.bm25") {
          Search.bm25(search, q).orderBy(col("score").desc, col("doc_id")).limit(10).collect()
        }
        if (recording && bm25Out.size < CheckedBm25)
          bm25Out += Map("probe" -> i, "terms" -> terms,
            "top" -> top.map(r => Seq(r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq)
      case "screen" =>
        val items = (p \ "docs").children
        val df = spark.createDataFrame(items.map(d =>
          Row((d \ "doc_id").extract[Long], (d \ "text").extract[String])).asJava,
          StructType.fromDDL("doc_id BIGINT, text STRING"))
        val dec = tr.span("operators.Dedup.screenBatch")(Dedup.screenBatch(dedup, df).collect())
        if (recording) screenOut += Map("probe" -> i, "kind" -> "screen",
          "decisions" -> dec.map(r => r.getLong(0).toString -> r.getString(1)).toMap)
      case "vec" =>
        val items = (p \ "vecs").children
        val df = spark.createDataFrame(items.map(d =>
          Row((d \ "vec_id").extract[Long], (d \ "embedding").extract[Seq[Double]].map(_.toFloat))).asJava,
          StructType.fromDDL("vec_id BIGINT, embedding ARRAY<FLOAT>"))
        val dec = tr.span("operators.Similarity.screenVecBatch")(Similarity.screenVecBatch(vec, df).collect())
        if (recording) screenOut += Map("probe" -> i, "kind" -> "vec",
          "decisions" -> dec.map(r => r.getLong(0).toString -> r.getString(1)).toMap)
      case "report" =>
        reports.foreach { case (m, q) =>
          tr.span(m)(q.fn(spark, tablesDir).write.format("noop").mode("overwrite").save())
        }
    }
    kind
  }

  /** The report queries' results go to parquet once, untimed, for the
    * oracle check. */
  def outputs(spark: SparkSession): Map[String, Any] = {
    val failures = reports.flatMap { case (_, q) =>
      try {
        q.fn(spark, tablesDir).coalesce(1).write.mode("overwrite")
          .parquet(checkDir.resolve(q.name).toString)
        None
      } catch { case e: Exception => Some(q.name -> s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    }.toMap
    Map("bm25" -> bm25Out.toSeq, "screens" -> screenOut.toSeq,
      "reports" -> Map("check_dir" -> checkDir.toString, "queries" -> reports.map(_._2.name),
        "oracles" -> reports.flatMap { case (_, q) => q.oracle.map(q.name -> _) }.toMap,
        "failures" -> failures))
  }

  override def provenance: Map[String, Any] = Map("warmup_probes_per_round" -> warm.size,
    "warmup_probes_after_rounds" -> warm.size,
    "stores" -> "Search/Dedup/Similarity indexes persisted in set-up, read per probe (no cache)",
    "report_queries" -> reports.map { case (m, q) => m -> q.name }.toMap)

}

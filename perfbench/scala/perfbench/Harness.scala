package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.{EngineQuery, SparkEntry, Tables}
import graft.sources.ParquetRowReader
import graft.streaming.StreamingQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** One timed call into the engine and what came back. */
final case class OpRec(op: String, pass: Int, startMs: Long, splitMs: Long, endMs: Long,
    constructS: Double, totalS: Double, error: Option[String],
    rows: Long = 0, firstRowS: Double = 0)

/** An operation of a workload: an engine query; a row read through
  * [[ParquetRowReader]] (`all` = getRows(), `proj` = getRows(cols),
  * `tuned` = ParquetRowReader.tuned(..) read like `proj`, or like `all`
  * when no columns are named); or `stream`: q21's
  * Structured Streaming twin ([[StreamingQueries.tumblingStream]]) run to
  * completion with an available-now trigger into a memory sink. */
sealed trait Op { def name: String }
final case class QueryOp(q: EngineQuery) extends Op { def name: String = q.name }
final case class RowsOp(kind: String, path: String, cols: Seq[String]) extends Op {
  def name: String = s"rows_$kind:${Paths.get(path).getFileName}"
}
case object StreamOp extends Op { def name: String = "stream_q21" }

/** The benchmark's JVM side: sets the engine up, runs one workload's
  * operations for a cold pass (in list order) and then warm passes (each in
  * an order drawn from the seed), at least two, until `seconds` have gone
  * by; checks outputs outside the timed region, and writes every
  * measurement as JSON.
  *
  * Usage: Harness key=value ... with keys workload, seed, seconds, trace,
  * data (fixture dir), work (scratch dir), out (result file), spans (trace
  * file), cores, ops (comma-separated: `q10` for an engine query,
  * `rows:all:<path>`, `rows:proj:<path>:c1+c2`, `rows:tuned:<path>`,
  * `stream:q21`; a list with queries must cover every query module), and
  * optionally plancheck (query ids for [[FullEvaluation]], checked on the
  * traced run's own timed executions) and mode (`plancheck`: run only those
  * queries once, traced, and check them).
  */
object Harness {

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val dataDir = a("data")
    val work = a("work")
    val cores = a("cores").toInt
    val trace = a.get("trace").contains("1")
    val spans = new ArrayBuffer[Map[String, Any]]

    // Set-up: JVM start until the session and the workload's resolved
    // tables are ready. Once per JVM, so that JVM start is counted.
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val t1 = System.nanoTime()
    resolveTables(spark, a("workload"), dataDir)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val resolveS = (System.nanoTime() - t1) / 1e9
    val sc = spark.sparkContext
    def note(what: String): Unit =
      System.err.println(f"perfbench: ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s after JVM start: $what")
    note(f"set up (session ${(t1 - t0) / 1e9}%.2f s, tables $resolveS%.2f s)")

    if (a.get("mode").contains("plancheck")) {
      val ids = a("ops").split(",").toSeq
      val rec = new Recorder(spark, trace = true)
      val recs = ids.map(id => runOp(spark, parseOp(id, dataDir), 0, dataDir, trace = true))
      rec.drain()
      rec.close()
      val errs = recs.flatMap(r => r.error.map(e => s"${r.op}: $e")) ++
        FullEvaluation.check(spark, dataDir, ids, recs, rec.plans.asScala.toSeq)
      errs.foreach(e => System.err.println(s"plancheck: $e"))
      Files.write(Paths.get(a("out")), Json.write(Map("plan_errors" -> errs)).getBytes(StandardCharsets.UTF_8))
      spark.stop()
      return
    }

    val ops = a("ops").split(",").toSeq.map(parseOp(_, dataDir))
    val uncovered = uncoveredModules(ops)
    if (ops.exists(_.isInstanceOf[QueryOp]))
      require(uncovered.isEmpty, s"query list misses modules: ${uncovered.mkString(", ")}")
    // rowread's cold pass is three reads, so a warm-up keeps the JVM's own
    // compilation out of it; adhoc's cold pass, always in list order, is
    // itself the warm-up of its warm passes.
    if (a("workload") == "rowread") { warmup(spark, work); note("warmed up") }
    val rec = new Recorder(spark, trace)
    val seconds = a("seconds").toDouble
    val seed = a("seed").toLong
    val passes = new ArrayBuffer[(Int, Long, Long, Double)] // pass, startMs, endMs, wall s
    val compiles = new ArrayBuffer[Long]
    val gcs = new ArrayBuffer[Long]
    val recs = new ArrayBuffer[OpRec]
    val heapMb = new ArrayBuffer[Double]

    def runPass(p: Int): Unit = {
      val c0 = Recorder.codegenCompiles(); val g0 = Recorder.gcMs()
      val s = System.currentTimeMillis(); val t0 = System.nanoTime()
      val order = if (p == 0) ops else new scala.util.Random(seed * 1000L + p).shuffle(ops)
      order.foreach(op => recs += runOp(spark, op, p, dataDir, trace))
      passes += ((p, s, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9))
      compiles += Recorder.codegenCompiles() - c0
      gcs += Recorder.gcMs() - g0
      heapMb += Recorder.retainedHeapMb()
    }

    val tStart = System.nanoTime()
    var p = 0
    while (p < 3 || (System.nanoTime() - tStart) / 1e9 < seconds) { runPass(p); p += 1 }
    note("timed region done")
    val peakHeapMb = heapMb.max
    rec.drain()
    val storage = sc.getRDDStorageInfo
    val cacheBytes = storage.map(s => s.memSize + s.diskSize).sum
    val persisted = sc.getPersistentRDDs.size

    note("heap and cache read")
    // Output checks, untimed and run `cores` at a time. Queries with a
    // DuckDB oracle (and the stream, under q21's oracle) run once more and
    // write their result for the comparison; the others run twice more and
    // must give the same content fingerprint both times. Each row read's
    // reader is read once more, every value folded into per-column
    // aggregates, nested fields included.
    val oracle = SparkEntry.oracleSql
    val q21Oracle = oracle(StreamingQueries.q21.name)
    def checkOf(op: Op): Map[String, Any] = {
      val out = Paths.get(work, "check", op.name.replaceAll("[^A-Za-z0-9_.-]", "_")).toString
      def written(df: DataFrame, sql: String): Map[String, Any] = {
        df.coalesce(1).write.mode("overwrite").parquet(out)
        Map("oracle" -> sql, "out" -> out)
      }
      op match {
        case QueryOp(q) if oracle.contains(q.name) => written(q.run(spark, dataDir), oracle(q.name))
        case QueryOp(q) =>
          Map("fingerprints" -> Seq.fill(2)(fingerprint(q.run(spark, dataDir))))
        case StreamOp =>
          val view = runStream(spark, dataDir)
          try {
            val df = spark.table(view)
            written(df.orderBy(df.columns.toIndexedSeq.map(col): _*), q21Oracle)
          } finally spark.catalog.dropTempView(view)
        case r: RowsOp =>
          val aggs = RowsOp.aggregates(r, openReader(spark, r))
          Map("rows" -> aggs._1, "aggs" -> aggs._2)
      }
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    val checks = try ops.distinct.map { op =>
      op.name -> pool.submit(() => {
        sc.setLocalProperty(Tag.Pass, "-1")
        val r = try checkOf(op) catch { case e: Throwable => Map[String, Any]("error" -> describe(e)) }
        sc.setLocalProperty(Tag.Pass, null)
        r
      })
    }.map { case (n, f) => n -> f.get() }.toMap
    finally pool.shutdown()
    rec.drain()
    val planErrors =
      if (a.get("plancheck").exists(_.nonEmpty)) {
        sc.setLocalProperty(Tag.Pass, "-1")
        try FullEvaluation.check(spark, dataDir, a("plancheck").split(",").toSeq, recs.toSeq, rec.plans.asScala.toSeq)
        finally sc.setLocalProperty(Tag.Pass, null)
      } else Nil
    rec.drain()
    rec.close()

    note("checks done")
    val metrics = Metrics.compute(recs.toSeq, passes.toSeq, compiles.toSeq, gcs.toSeq, rec,
      cores, setupS, resolveS, peakHeapMb, cacheBytes, persisted, trace, spans)
    val result = Map(
      "metrics" -> metrics,
      "ops" -> recs.map(r => Map("op" -> r.op, "pass" -> r.pass, "total_s" -> r.totalS,
        "construct_s" -> r.constructS, "error" -> r.error.getOrElse(null),
        "rows" -> r.rows)).toSeq,
      "row_ops" -> ops.collect { case r: RowsOp => Map("name" -> r.name, "path" -> r.path, "cols" -> r.cols) },
      "checks" -> checks,
      "plan_errors" -> planErrors,
      "setup_s" -> setupS,
      "passes" -> passes.map(_._4).toSeq,
      "compiles" -> compiles.toSeq,
      "heap_mb" -> heapMb.toSeq,
      "uncovered_modules" -> uncovered)
    Files.write(Paths.get(a("out")), Json.write(result).getBytes(StandardCharsets.UTF_8))
    if (trace) Files.write(Paths.get(a("spans")), Json.write(spans.toSeq).getBytes(StandardCharsets.UTF_8))
    spark.stop()
    note("stopped")
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new graft.plans.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Paths.get(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The workload's tables, resolved: file listing and footers read. */
  def resolveTables(spark: SparkSession, workload: String, dataDir: String): Unit =
    if (workload == "rowread") ParquetRowReader.fromPath(spark, dataDir).df.schema
    else {
      val t = Tables.forPath(spark, dataDir)
      Seq(t.region, t.nation, t.customer, t.supplier, t.part, t.orders,
        t.lineitem, t.events, t.documents, t.embeddings).foreach(_.schema)
    }

  /** JIT warm-up outside every timed figure, on generated data only: small
    * aggregate, window and sort queries, and row reads through
    * [[ParquetRowReader]] of a nested Parquet file, so that neither the first
    * timed read nor the warm passes absorb the JVM's own compilation of
    * Spark and the row lowering. */
  def warmup(spark: SparkSession, work: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    val dir = Paths.get(work, "warmup").toString
    spark.range(0, 2000, 1, 4).select(
      col("id"), col("id").cast("string").as("s"), (col("id") / 3.0).as("d"),
      struct(col("id").cast("string").as("a"), col("id").as("b"),
        sequence(lit(0L), col("id") % 9).as("c")).as("st"),
      array(struct(col("id").as("x"), (col("id") * 2.0).as("y"))).as("ls"))
      .write.mode("overwrite").parquet(dir)
    for (_ <- 0 until 3) {
      spark.range(0, 200000, 1, 4).select((col("id") % 97).as("k"), col("id"))
        .groupBy("k").agg(sum("id").as("s"), count(lit(1)).as("n"))
        .withColumn("r", row_number().over(Window.orderBy(col("s"))))
        .orderBy("k")
        .write.format("noop").mode("overwrite").save()
      ParquetRowReader.fromPath(spark, dir).getRows().foreach(_ => ())
    }
  }

  def parseOp(spec: String, dataDir: String): Op = spec.split(":").toList match {
    case "rows" :: kind :: path :: rest =>
      RowsOp(kind, Paths.get(dataDir, path).normalize.toString,
        rest.headOption.map(_.split("\\+").toSeq).getOrElse(Nil))
    case "stream" :: "q21" :: Nil => StreamOp
    case id :: Nil =>
      val hits = SparkEntry.engineQueries.filter(_.name.startsWith(id + "_"))
      require(hits.size == 1, s"query id $id matches ${hits.map(_.name)}")
      QueryOp(hits.head)
    case _ => sys.error(s"bad op: $spec")
  }

  /** The engine's query modules (the files `SparkEntry.engineQueries` is
    * assembled from) that no operation of the list belongs to. */
  def uncoveredModules(ops: Seq[Op]): Seq[String] = {
    import graft.{functions => f, operators => o, streaming => s}
    val modules = Seq(
      "RelationalQueries" -> o.RelationalQueries.all, "WindowQueries" -> o.WindowQueries.all,
      "ScalarFuncQueries" -> f.ScalarFuncQueries.all, "StreamingQueries" -> s.StreamingQueries.all,
      "TextQueries" -> o.TextQueries.all, "SimilarityQueries" -> o.SimilarityQueries.all,
      "UdfQueries" -> f.UdfQueries.all, "SketchQueries" -> f.SketchQueries.all,
      "SinkQueries" -> o.SinkQueries.all, "MultimodalQueries" -> o.MultimodalQueries.all,
      "AdvancedQueries" -> o.AdvancedQueries.all, "TrainingDataQueries" -> o.TrainingDataQueries.all,
      "GraphQueries" -> o.GraphQueries.all, "EvalQueries" -> o.EvalQueries.all,
      "ExperimentQueries" -> o.ExperimentQueries.all, "CurationQueries" -> o.CurationQueries.all)
    val names = ops.collect { case q: QueryOp => q.name }.toSet
    modules.collect { case (m, qs) if !qs.exists(q => names(q.name)) => m }
  }

  def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  private def tag(spark: SparkSession, op: String, pass: Int, phase: String, trace: Boolean): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tag.Pass, pass.toString)
    sc.setLocalProperty(Tag.Op, op)
    sc.setLocalProperty(Tag.Phase, phase)
    if (trace) sc.setJobGroup(op, s"$op pass $pass $phase", interruptOnCancel = false)
  }

  private def untag(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    Seq(Tag.Pass, Tag.Op, Tag.Phase).foreach(sc.setLocalProperty(_, null))
    sc.clearJobGroup()
  }

  /** The timed action of a query: Spark's `noop` sink, which computes every
    * output column (unlike `count()`, which lets the optimizer drop the
    * final sort and unused aggregates). [[FullEvaluation]] checks the plans
    * this action executed. */
  def evaluate(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def openReader(spark: SparkSession, r: RowsOp): ParquetRowReader =
    if (r.kind == "tuned")
      ParquetRowReader.tuned(spark, ParquetRowReader.ScanTuning(batchSize = 1024, maxPartitionBytes = "2m"), r.path)
    else ParquetRowReader.fromPath(spark, r.path)

  def rows(reader: ParquetRowReader, r: RowsOp): Iterator[Map[String, Any]] =
    if (r.cols.isEmpty) reader.getRows() else reader.getRows(r.cols)

  private val streams = new java.util.concurrent.atomic.AtomicInteger()

  /** Runs q21's streaming twin to completion; returns the memory sink's
    * view, which the caller drops. */
  def runStream(spark: SparkSession, dataDir: String): String = {
    val view = s"perfbench_stream_${streams.incrementAndGet()}"
    val q = StreamingQueries.tumblingStream(spark, dataDir).writeStream
      .format("memory").queryName(view).outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    if (!q.awaitTermination(120000)) { q.stop(); sys.error("stream did not finish within 120 s") }
    q.exception.foreach(e => throw e)
    view
  }

  /** One timed operation. A query is built by `EngineQuery.run` and then
    * fully evaluated by [[evaluate]]. A row read iterates every row the
    * reader yields (each row is lowered to a map as it is taken); its
    * content is checked on a separate, untimed read. */
  def runOp(spark: SparkSession, op: Op, pass: Int, dataDir: String, trace: Boolean): OpRec = {
    val s = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var split = s
    var tc = t0
    def mark(): Unit = { split = System.currentTimeMillis(); tc = System.nanoTime() }
    def done(rows: Long = 0, first: Double = 0): OpRec =
      OpRec(op.name, pass, s, split, System.currentTimeMillis(), (tc - t0) / 1e9,
        (System.nanoTime() - t0) / 1e9, None, rows, first)
    try op match {
      case QueryOp(q) =>
        tag(spark, q.name, pass, "construct", trace)
        val df = q.run(spark, dataDir)
        mark()
        tag(spark, q.name, pass, "action", trace)
        evaluate(df)
        done()
      case StreamOp =>
        tag(spark, op.name, pass, "action", trace)
        mark()
        val view = runStream(spark, dataDir)
        val r = done()
        spark.catalog.dropTempView(view)
        r
      case r: RowsOp =>
        tag(spark, op.name, pass, "construct", trace)
        val reader = openReader(spark, r)
        mark()
        tag(spark, op.name, pass, "read", trace)
        val it = rows(reader, r)
        var n = 0L
        var first = 0.0
        while (it.hasNext) {
          it.next()
          if (n == 0) first = (System.nanoTime() - tc) / 1e9
          n += 1
        }
        done(n, first)
    } catch {
      case e: Throwable =>
        OpRec(op.name, pass, s, split, System.currentTimeMillis(), (tc - t0) / 1e9,
          (System.nanoTime() - t0) / 1e9, Some(describe(e)))
    } finally untag(spark)
  }

  /** Order-free content fingerprint: row count, and the sum and the xor of a 64-bit hash
    * of each row's JSON form (JSON covers every column type, maps and
    * variants included). */
  def fingerprint(df: DataFrame): String = {
    val h = xxhash64(to_json(struct(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*)))
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(pmod(col("h"), lit(2147483647L))), bit_xor(col("h")))
      .head()
    Seq(0, 1, 2).map(i => if (r.isNullAt(i)) 0L else r.getLong(i)).mkString(":")
  }
}

object RowsOp {
  /** Reads every row once and folds each column into [[ColAgg]]s; returns
    * the row count and (path, kind, value) per aggregate. */
  def aggregates(r: RowsOp, reader: ParquetRowReader): (Long, Seq[Seq[Any]]) = {
    val schema = if (r.cols.isEmpty) reader.df.schema else StructType(r.cols.map(reader.df.schema(_)))
    val cols = schema.fields.toSeq.map(f => f.name -> ColAgg.build(f.name, f.dataType))
    var n = 0L
    Harness.rows(reader, r).foreach { row =>
      cols.foreach { case (c, (_, feed)) => feed(row(c)) }
      n += 1
    }
    (n, cols.flatMap(_._2._1).map(g => Seq(g.path, g.kind, g.value)))
  }
}

/** An aggregate of one value path of a row read, in a form DuckDB computes
  * over the same files: `sum` (integers), `fsum` (floating), `len` (total
  * string length), `elems` (total list length), `count` (non-null values).
  * Paths name struct fields with `.` and list elements with `[]`, e.g.
  * `field_7[].sub_field_4[]`. */
final class ColAgg(val path: String, val kind: String) {
  private var l = 0L
  private var d = 0.0
  def add(v: Any): Unit = if (v != null) kind match {
    case "sum" => l += v.asInstanceOf[Number].longValue
    case "fsum" => d += v.asInstanceOf[Number].doubleValue
    case "len" => l += v.asInstanceOf[String].length
    case "elems" => l += v.asInstanceOf[scala.collection.Iterable[_]].size
    case _ => l += 1
  }
  def value: Any = if (kind == "fsum") d else l
}

object ColAgg {
  /** The aggregates of a value of type `t` at `path`, and the function that
    * feeds one such value, as [[ParquetRowReader]] lowers it (struct → Map,
    * list → Seq), into all of them. */
  def build(path: String, t: DataType): (Seq[ColAgg], Any => Unit) = t match {
    case st: StructType =>
      val subs = st.fields.toSeq.map(f => f.name -> build(s"$path.${f.name}", f.dataType))
      (subs.flatMap(_._2._1), v => if (v != null) {
        val m = v.asInstanceOf[scala.collection.Map[String, Any]]
        subs.foreach { case (n, (_, feed)) => feed(m(n)) }
      })
    case ArrayType(et, _) =>
      val n = new ColAgg(path, "elems")
      val (inner, feed) = build(path + "[]", et)
      (n +: inner, v => if (v != null) {
        n.add(v)
        v.asInstanceOf[scala.collection.Iterable[Any]].foreach(feed)
      })
    case _ =>
      val g = new ColAgg(path, t match {
        case ByteType | ShortType | IntegerType | LongType => "sum"
        case FloatType | DoubleType => "fsum"
        case StringType => "len"
        case _ => "count"
      })
      (Seq(g), g.add)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case xs: Array[_] => write(xs.toSeq)
    case p: Product => write(p.productIterator.toSeq)
    case x => quote(x.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

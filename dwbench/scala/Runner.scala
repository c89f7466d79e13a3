package dwbench

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.dwbench.Counters
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.etl.{Errors, Pipeline, Staging, Warehouse}
import graft.llm.{MultimodalOps, TextOps}
import graft.measures.Measures
import graft.olap.Olap
import graft.sources.{PreparedSql, Sources, SqlSurface}
import graft.streaming.IncrementalEtl

/** One workload run in a fresh JVM: set-up, untimed warm-up, a closed loop
  * of whole rounds of operations until the deadline, then the outputs the
  * oracle checks read. Everything it learns goes into one JSON result file;
  * `run.py` turns that into the benchmark's metrics.
  *
  * Usage: `Runner <params.properties>`; the parameters are written by
  * `run.py`. With `trace=1` the layer calls are wrapped in spans and every
  * workload runs briefly: after its warm-up, a traced operation and
  * then an untraced one (the pipeline: a traced round, then an untraced
  * one; the dashboard: one traced refresh). */
object Runner {

  /** Run parameters; a workload's own keys carry its name as prefix. */
  final class Params(props: java.util.Properties, prefix: String = "") {
    def apply(k: String): String =
      Option(props.getProperty(prefix + k)).orElse(Option(props.getProperty(k)))
        .getOrElse(throw new IllegalArgumentException(s"missing parameter $prefix$k"))
    def int(k: String): Int = apply(k).trim.toInt
    def list(k: String): Seq[String] = apply(k).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    def scope(workload: String): Params = new Params(props, workload + ".")
  }

  object Params {
    def load(path: String): Params = {
      val p = new java.util.Properties
      val in = new java.io.FileInputStream(path)
      try p.load(in) finally in.close()
      new Params(p)
    }
  }

  final case class Span(id: Int, parent: Int, op: Int, name: String, start: Long, end: Long)
  final case class Op(id: Int, kind: String, ms: Double, ok: Boolean, rows: Long,
      traced: Boolean, counters: Array[Long])

  /** Operations, sub-operation latencies, spans and counters of one run. */
  final class Recorder(spark: SparkSession, val trace: Boolean) {
    val counters: Counters = Counters.install(spark.sparkContext)
    val ops = ArrayBuffer.empty[Op]
    val warmup = ArrayBuffer.empty[(String, Double)]
    val latencies = ArrayBuffer.empty[(String, Double)]
    val spans = ArrayBuffer.empty[Span]
    val values = ArrayBuffer.empty[(String, Double)]
    val props = ArrayBuffer.empty[(String, Boolean, String)]
    val checks = ArrayBuffer.empty[(String, String, String)]
    var firstOpMs: Long = 0L
    private var stack: List[Int] = Nil
    private var opId = -1
    private var tracing = false

    /** A layer span: recorded only inside a traced operation. */
    def span[T](name: String)(body: => T): T =
      if (!tracing) body
      else {
        val id = spans.size
        spans += null
        val parent = stack.headOption.getOrElse(-1)
        stack = id :: stack
        val t0 = System.nanoTime
        try body
        finally {
          spans(id) = Span(id, parent, opId, name, t0, System.nanoTime)
          stack = stack.tail
        }
      }

    /** Time a block outside any operation (a sub-operation latency). */
    def latency[T](kind: String)(body: => T): T = {
      val t0 = System.nanoTime
      val r = body
      latencies += kind -> (System.nanoTime - t0) / 1e6
      r
    }

    /** One operation. A throwing operation counts as failed and is not
      * timed; warm-up operations are timed but kept apart. */
    def op(kind: String, rows: Long, timed: Boolean, traced: Boolean = false)(body: => Unit): Unit = {
      val before = counters.snapshot()
      if (timed && firstOpMs == 0L) firstOpMs = System.currentTimeMillis
      val t0 = System.nanoTime
      opId = ops.size
      tracing = trace && traced
      val ok =
        try {
          if (tracing) span(s"op.$kind")(body) else body
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"dwbench: operation $kind failed: $e")
            e.printStackTrace()
            false
        } finally tracing = false
      val ms = (System.nanoTime - t0) / 1e6
      val after = counters.snapshot()
      System.err.println(f"dwbench: ${if (timed) "op" else "warm-up"} $kind ${ms}%.1f ms")
      if (timed) ops += Op(ops.size, kind, ms, ok, rows, traced,
        after.zip(before).map { case (a, b) => a - b })
      else warmup += kind -> ms
    }

    private var deadline = 0L
    /** True until `seconds` have passed since the first call: the timed
      * loop starts its clock after set-up and warm-up. */
    def before(seconds: Double): Boolean = {
      if (deadline == 0L) deadline = System.nanoTime + (seconds * 1e9).toLong
      System.nanoTime < deadline
    }

    def value(name: String, v: Double): Unit = values += name -> v
    def property(name: String, ok: Boolean, detail: String): Unit = {
      if (!ok) System.err.println(s"dwbench: property $name does not hold: $detail")
      props += ((name, ok, detail))
    }
    /** A result written for an oracle check: `oracle` names the registered
      * oracle SQL, `inputs` the input directory its tables bind to. */
    def check(path: String, oracle: String, inputs: String): Unit = checks += ((path, oracle, inputs))
  }

  def main(args: Array[String]): Unit = {
    val p = Params.load(args(0))
    val cores = p.int("cores")
    val work = p("work_dir")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("dwbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark, p("trace") == "1")
    val seconds = p("seconds").toDouble
    val workloads = if (rec.trace) p.list("workloads") else Seq(p("workload"))
    for (wl <- workloads) {
      val started = rec.ops.size
      val wp = p.scope(wl)
      wl match {
        case "pipeline" => pipeline(spark, wp, rec, seconds)
        case "dashboard" => dashboard(spark, wp, rec, seconds)
        case "ingest" => ingest(spark, wp, rec, seconds)
        case "curate" => curate(spark, wp, rec, seconds)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      rec.value(s"$wl.ops_end", rec.ops.size.toDouble)
      rec.value(s"$wl.ops_start", started.toDouble)
      if (rec.trace) spark.catalog.clearCache()
    }
    rec.value("cache_mb", cacheMb(spark))
    writeResult(s"$work/result.json", rec, spark)
    spark.stop()
  }

  /** The run's record as one JSON object, the file `run.py` reads. */
  def writeResult(path: String, rec: Recorder, spark: SparkSession): Unit = {
    val result = Map(
      "first_op_ms" -> rec.firstOpMs,
      "java" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "ops" -> rec.ops.map(o => Map("id" -> o.id, "kind" -> o.kind, "ms" -> o.ms, "ok" -> o.ok,
        "rows" -> o.rows, "traced" -> o.traced,
        "counters" -> Counters.AllNames.zip(o.counters).toMap)),
      "warmup" -> rec.warmup.map { case (k, ms) => Map("kind" -> k, "ms" -> ms) },
      "latencies" -> rec.latencies.map { case (k, ms) => Map("kind" -> k, "ms" -> ms) },
      "values" -> rec.values.map { case (k, v) => Map("name" -> k, "value" -> v) },
      "properties" -> rec.props.map { case (k, ok, d) => Map("name" -> k, "ok" -> ok, "detail" -> d) },
      "checks" -> rec.checks.map { case (p, o, in) => Map("path" -> p, "oracle" -> o, "inputs" -> in) },
      "oracle_sql" -> rec.checks.map(_._2).distinct
        .map(n => n -> graft.SparkEntry.oracleSql.get(n).orNull).toMap,
      "spans" -> rec.spans.filter(_ != null).map(s => Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end)))
    val tmp = new java.io.File(path + ".tmp")
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(tmp, result)
    tmp.renameTo(new java.io.File(path))
  }

  /** A traced run's operations after warm-up: a traced one, then the
    * untraced one its tracing overhead is measured against. */
  val TracePattern: Seq[Boolean] = Seq(true, false)

  def cacheMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  private def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isDirectory) f.listFiles.map(c => dirBytes(c.getPath)).sum else f.length
  }

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles.foreach(deleteTree)
    f.delete()
  }

  /** Run independent Spark actions a few at a time (checks only: the
    * timed loop runs one action at a time). */
  private def concurrently[T](actions: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    Await.result(Future.sequence(actions.map(a => Future(a()))), scala.concurrent.duration.Duration.Inf)
  }

  /** Save collected rows where the oracle check reads them. */
  private def save(spark: SparkSession, rows: Array[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)

  /** Touch every cache the warehouse build declares, so the build is done. */
  private def materialized(w: Warehouse): Warehouse = {
    Seq(w.customersBase, w.dimCustomer, w.dimCustomerElt, w.productsDedup, w.dimProduct,
      w.salesFinal, w.dimDate, w.factSales, w.factSalesElt).foreach(_.count())
    w
  }

  // ---------------------------------------------------------------- pipeline

  /** The validation frame `Pipeline` returns, rebuilt from public parts for
    * the traced run. */
  private def validation(spark: SparkSession, w: Warehouse, out: String, fact: String): DataFrame = {
    def metric(label: String, df: DataFrame, agg: org.apache.spark.sql.Column) =
      df.agg(agg.cast("string").as("value")).select(lit(label).as("metric"), col("value"))
    val loaded = spark.read.parquet(s"$out/$fact")
    metric("staging_sales_rows", w.salesFinal, count(lit(1)))
      .union(metric("fact_rows", loaded, count(lit(1))))
      .union(metric("staging_revenue", w.salesFinal, sum("totalamount")))
      .union(metric("fact_revenue", loaded, sum("totalamount")))
      .union(metric("rejected_rows", Errors.rejectedRows(w), count(lit(1))))
  }

  /** `Pipeline.runEtl`/`runElt`, call for call, with a span per layer. */
  private def tracedRun(rec: Recorder, s: SparkSession, raw: String, out: String, etl: Boolean): DataFrame = {
    rec.span("etl.staging") {
      Seq(Staging.customers(s, raw), Staging.products(s, raw), Staging.sales(s, raw),
        Staging.dates(s, raw)).foreach(_.write.format("noop").mode("overwrite").save())
    }
    val w = rec.span("etl.build")(materialized(Warehouse(s, raw)))
    if (!etl) rec.span("sources.raw_copy") {
      Seq("customers" -> w.stgCustomers, "products" -> w.stgProducts,
        "sales" -> w.stgSales, "dates" -> w.stgDates).foreach { case (name, df) =>
        Sources.materialize(Sources.emptyLike(s, df), s"$out/raw_$name")
        Sources.append(df, s"$out/raw_$name")
      }
    }
    rec.span("sources.star_write")(Warehouse.materialize(s, raw, out))
    if (etl) rec.span("etl.errors")(Sources.materialize(Errors.etlErrors(w), s"$out/etl_errors"))
    validation(s, w, out, if (etl) "fact_sales" else "fact_sales_elt")
  }

  def pipeline(spark: SparkSession, p: Params, rec: Recorder, seconds: Double): Unit = {
    val raw = p("raw_dir")
    val base = s"${p("work_dir")}/pipeline"
    val stagedRows = p("staged_rows").toLong
    var n = 0
    val last = scala.collection.mutable.Map.empty[String, (String, Array[Row])]
    def run(kind: String, timed: Boolean, traced: Boolean): Unit = {
      n += 1
      val out = s"$base/$n-$kind"
      spark.catalog.clearCache() // the previous run's warehouse caches
      val s = spark.newSession() // a new session builds a new warehouse
      var rows: Array[Row] = null
      rec.op(kind, stagedRows, timed, traced) {
        val v =
          if (traced) tracedRun(rec, s, raw, out, kind == "etl")
          else if (kind == "etl") Pipeline.runEtl(s, raw, out)
          else Pipeline.runElt(s, raw, out)
        rows = rec.span("etl.validate")(v.collect())
      }
      if (rows != null) {
        last.get(kind).foreach(prev => deleteTree(new java.io.File(prev._1)))
        last(kind) = out -> rows
      }
    }
    val warm = p.int("warmup")
    for (_ <- 0 until warm) { run("etl", timed = false, traced = false); run("elt", timed = false, traced = false) }
    if (rec.trace) {
      // the traced round is, like the timed round, the first in its JVM;
      // the untraced round after it gives the engine counters of the
      // timed round's work, without the traced staging pass
      for (traced <- TracePattern) { run("etl", true, traced); run("elt", true, traced) }
    } else {
      while (rec.before(seconds)) { run("etl", true, false); run("elt", true, false) }
    }
    // outputs of the last run of each kind, projected as the registered queries project them
    for ((kind, (out, rows)) <- last) {
      val m = rows.map(r => r.getString(0) -> Option(r.getString(1)).getOrElse("")).toMap
      rec.property(s"$kind.staging_revenue_equals_fact_revenue",
        m.get("staging_revenue").nonEmpty && m.get("staging_revenue") == m.get("fact_revenue"),
        s"staging ${m.get("staging_revenue")} fact ${m.get("fact_revenue")}")
      rec.value(s"$kind.star_mb",
        Seq("dim_customer", "dim_customer_elt", "dim_product", "dim_date", "fact_sales", "fact_sales_elt")
          .map(t => dirBytes(s"$out/$t")).sum / 1048576.0)
      if (!rec.trace) {
        val facts = if (kind == "etl") Seq("fact_sales") else Seq("fact_sales_elt")
        val dims = if (kind == "etl") Seq("dim_customer", "dim_product", "dim_date") else Seq("dim_customer_elt")
        for (t <- facts) {
          val df = spark.read.parquet(s"$out/$t").drop("product_key", "customer_key", "year")
            .withColumn("unitprice", col("unitprice").cast("double"))
            .withColumn("totalamount", col("totalamount").cast("double"))
          df.write.mode("overwrite").parquet(s"$base/check/$t")
          rec.check(s"$base/check/$t", t, raw)
        }
        for (t <- dims) {
          val d = spark.read.parquet(s"$out/$t")
          val df = t match {
            case "dim_product" => d.select(col("stockcode"), col("description"),
              col("unitprice").cast("double").as("unitprice"), col("category"), col("brand"))
            case "dim_date" => d
            case _ => d.select("customerid", "customername", "country", "signupdate")
          }
          df.write.mode("overwrite").parquet(s"$base/check/$t")
          rec.check(s"$base/check/$t", t, raw)
        }
      }
    }
  }

  // --------------------------------------------------------------- dashboard

  def dashboard(spark: SparkSession, p: Params, rec: Recorder, seconds: Double): Unit = {
    val raw = p("raw_dir")
    val base = s"${p("work_dir")}/dashboard"
    val country = p("country")
    val category = p("category")
    val year = p.int("year")
    val w = materialized(Warehouse(spark, raw))
    SqlSurface.register(spark, raw)
    val prepared = rec.latency("prepare")(
      PreparedSql.prepare(spark, SqlSurface.olapSqlTextOf("sql_olap_q1")))
    val tiles: Seq[(String, String, () => DataFrame)] = Seq(
      ("m01_total_revenue", "measures", () => Measures.totalRevenue(w)),
      ("m02_total_orders", "measures", () => Measures.totalOrders(w)),
      ("m03_arpo", "measures", () => Measures.arpo(w)),
      ("m04_arpc", "measures", () => Measures.arpc(w)),
      ("m05_total_quantity", "measures", () => Measures.totalQuantity(w)),
      ("m06_arpu", "measures", () => Measures.arpu(w)),
      ("m07_revenue_per_customer", "measures", () => Measures.revenuePerCustomer(w)),
      ("m08_yoy_growth", "measures", () => Measures.yoyGrowth(w)),
      ("m09_top_region", "measures", () => Measures.topRegion(w)),
      ("m10_monthly_revenue", "measures", () => Measures.monthlyRevenue(w)),
      ("m11_high_value_sales", "measures", () => Measures.highValueSales(w)),
      ("m12_rolling_3m", "measures", () => Measures.rolling3m(w)),
      ("m13_cumulative_revenue", "measures", () => Measures.cumulative(w)),
      ("m14_avg_order_size", "measures", () => Measures.avgOrderSize(w)),
      ("m01_total_revenue_sliced", "measures", () => Measures.totalRevenueSlicedByCountry(w, country)),
      ("m01_total_revenue_sliced_category", "measures", () => Measures.totalRevenueSlicedByCategory(w, category)),
      ("m01_total_revenue_sliced_combo", "measures", () => Measures.totalRevenueSlicedComposite(w, country, category)),
      ("m08_yoy_growth_sliced", "measures", () => Measures.yoyGrowthSlicedByCountry(w, country)),
      ("m09_top_region_sliced_category", "measures", () => Measures.topRegionSlicedByCategory(w, category)),
      ("m10_monthly_revenue_sliced_year", "measures", () => Measures.monthlyRevenueSlicedByYear(w, year)),
      ("m12_rolling_3m_sliced", "measures", () => Measures.rolling3mSlicedByCountry(w, country)),
      ("m12_rolling_3m_sliced_category", "measures", () => Measures.rolling3mSlicedByCategory(w, category)),
      ("olap_q1_monthly_country", "olap", () => Olap.q1(w)),
      ("olap_q2_top10_products_3m", "olap", () => Olap.q2(w)),
      ("olap_q3_cltv", "olap", () => Olap.q3(w)),
      ("olap_q4_daily_90d", "olap", () => Olap.q4(w)),
      ("olap_q5_price_vs_revenue", "olap", () => Olap.q5(w)),
      ("olap_q6_cohort", "olap", () => Olap.q6(w)),
      ("olap_q7_monthly_verification", "olap", () => Olap.q7(w)))
    val factRows = w.factSalesElt.count()
    val last = new Array[(Array[Row], StructType)](tiles.size)
    var preparedLast: (Array[Row], StructType) = null
    def refresh(timed: Boolean, traced: Boolean): Unit =
      rec.op("refresh", factRows, timed, traced) {
        for (((name, layer, build), i) <- tiles.zipWithIndex) {
          val df = build()
          rec.span(s"$layer.plan")(df.queryExecution.executedPlan)
          last(i) = rec.span(s"$layer.exec")(df.collect()) -> df.schema
          if (i % 4 == 3) {
            val r = rec.latency("prepared_read")(rec.span("sources.prepared_run")(prepared.run()))
            preparedLast = r.collect() -> r.schema
          }
        }
      }
    for (_ <- 0 until p.int("warmup")) refresh(timed = false, traced = false)
    // traced, a refresh runs the same Spark work (the plan span forces the
    // plan the collect reuses), so one traced refresh gives its counters;
    // its overhead is measured where operations are cheaper to repeat
    if (rec.trace) refresh(true, true)
    else while (rec.before(seconds)) refresh(true, false)

    // sliced revenue over every country, plus the rows no country claims,
    // must add up to the unsliced total
    val withCountry = w.copy(factSalesElt = w.factSalesElt
      .join(w.dimCustomerElt.select("customer_key", "country"), Seq("customer_key"), "left"))
    def rev(df: DataFrame): BigDecimal =
      Option(df.head().get(0)).map(v => BigDecimal(v.toString)).getOrElse(BigDecimal(0))
    val countries = w.dimCustomerElt.select("country").distinct().collect()
      .flatMap(r => Option(r.getString(0)))
    val parts = concurrently(countries.toSeq.map(c =>
      () => rev(Measures.totalRevenueSlicedByCountry(w, c))))
    val noCountry = rev(Measures.totalRevenue(Measures.sliced(withCountry, col("country").isNull)))
    val total = rev(Measures.totalRevenue(w))
    val summed = parts.sum + noCountry
    rec.property("sliced_revenue_sums_to_total",
      (summed - total).abs <= total.abs * BigDecimal("1e-9"),
      s"${countries.length} countries sum to $summed (no country $noCountry), total $total")
    if (!rec.trace) {
      concurrently(tiles.zipWithIndex.map { case ((name, _, _), i) =>
        () => save(spark, last(i)._1, last(i)._2, s"$base/check/$name") })
      for ((name, _, _) <- tiles) rec.check(s"$base/check/$name", name, raw)
      save(spark, preparedLast._1, preparedLast._2, s"$base/check/sql_olap_q1_prepared")
      rec.check(s"$base/check/sql_olap_q1_prepared", "sql_olap_q1", raw)
    }
  }

  // ------------------------------------------------------------------ ingest

  def ingest(spark: SparkSession, p: Params, rec: Recorder, seconds: Double): Unit = {
    val raw = p("raw_dir")
    val base = s"${p("work_dir")}/ingest"
    val drops = p.list("drops")
    val dropRows = p.list("drop_rows").map(_.toLong)
    val w = Warehouse(spark, raw)
    w.dimProduct.count(); w.dimCustomer.count()
    var round = 0
    def applyDrops(n: Int, timed: Boolean, traced: Boolean): String = {
      round += 1
      val dir = s"$base/round_$round"
      val watch = new java.io.File(s"$dir/watch")
      watch.mkdirs()
      val summary = s"$dir/summary"
      val query = IncrementalEtl.maintainMonthCountry(spark, watch.getPath, w, summary)
        .option("checkpointLocation", s"$dir/checkpoint")
        .start()
      try {
        for (i <- 0 until n) {
          val src = new java.io.File(drops(i))
          val hidden = new java.io.File(watch, s".${src.getName}.landing")
          java.nio.file.Files.copy(src.toPath, hidden.toPath)
          rec.op("drop", dropRows(i), timed, traced) {
            // a drop lands atomically: one rename into the watched directory
            rec.span("streaming.land")(java.nio.file.Files.move(hidden.toPath,
              new java.io.File(watch, src.getName).toPath,
              java.nio.file.StandardCopyOption.ATOMIC_MOVE))
            rec.span("streaming.apply")(query.processAllAvailable())
          }
          if (timed) {
            rec.value("streaming.summary_rewrite_mb", dirBytes(summary) / 1048576.0)
            rec.latency("summary_read")(IncrementalEtl.readMonthCountry(spark, summary).collect())
          }
        }
      } finally query.stop()
      for (pr <- query.recentProgress if pr.numInputRows > 0) {
        val d = pr.durationMs
        def ms(k: String): Double = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
        if (timed) {
          rec.value("streaming.batch_ms", ms("triggerExecution"))
          rec.value("streaming.merge_ms", ms("addBatch"))
          rec.value("streaming.plan_ms", ms("queryPlanning"))
          rec.value("streaming.list_ms", ms("latestOffset") + ms("getBatch"))
        }
      }
      summary
    }
    val warm = p.int("warmup")
    if (warm > 0) applyDrops(math.min(warm, drops.size), timed = false, traced = false)
    var summary: String = null
    if (rec.trace) {
      for (traced <- TracePattern) summary = applyDrops(drops.size, timed = true, traced)
    } else {
      while (rec.before(seconds)) summary = applyDrops(drops.size, timed = true, traced = false)
    }
    if (!rec.trace && summary != null) {
      IncrementalEtl.readMonthCountry(spark, summary)
        .select(col("month"), col("country"),
          col("revenue").cast("double").as("revenue"),
          col("qty").cast("bigint").as("qty"),
          col("order_count"))
        .write.mode("overwrite").parquet(s"$base/check/stream_molap_roundtrip")
      rec.check(s"$base/check/stream_molap_roundtrip", "stream_molap_roundtrip", raw)
    }
  }

  // ------------------------------------------------------------------ curate

  def curate(spark: SparkSession, p: Params, rec: Recorder, seconds: Double): Unit = {
    import spark.implicits._
    val shards = p.list("shards")
    val shardDocs = p("shard_docs").toLong
    val base = s"${p("work_dir")}/curate"
    var next = 0
    // the first and the last timed shard are the sampled ones the oracle checks
    var sampled = Map.empty[Int, Seq[(String, Array[Row], StructType)]]
    def shard(timed: Boolean, traced: Boolean): Unit = {
      val k = next
      next += 1
      val dir = shards(k)
      // fixture encoding is input generation: untimed, localized first
      def local(ds: org.apache.spark.sql.Dataset[MultimodalOps.MediaRow]) =
        spark.createDataset(ds.collect().toSeq)
      val ppm = local(MultimodalOps.ppmFixture(spark, dir))
      val png = local(MultimodalOps.pngFixture(spark, dir))
      val jpeg = local(MultimodalOps.jpegFixture(spark, dir))
      val jpegColor = local(MultimodalOps.jpegColorFixture(spark, dir))
      val wav = local(MultimodalOps.wavFixture(spark, dir))
      val cacheBefore = cacheMb(spark)
      val out = ArrayBuffer.empty[(String, Array[Row], StructType)]
      def run(name: String, df: => DataFrame): Unit = {
        val d = df
        out += ((name, d.collect(), d.schema))
      }
      rec.op("shard", shardDocs, timed, traced) {
        val docs = TextOps.docs(spark, dir)
        rec.span("llm.dedup") {
          run("doc_exact_dedup", TextOps.exactDedup(docs))
          run("doc_minhash_near_dup", TextOps.minhashPairs(docs))
          run("doc_dedup_clusters", TextOps.dedupClusters(docs, 0.6))
        }
        rec.span("llm.quality") {
          run("doc_quality_gopher", TextOps.qualityGopher(docs))
          run("doc_filter_cascade", TextOps.filterCascade(docs))
          run("doc_curation_pipeline", TextOps.curationPipeline(docs))
        }
        rec.span("llm.decode") {
          run("multimodal_features", MultimodalOps.decodePpm(ppm).toDF())
          run("multimodal_png_features", MultimodalOps.decodePng(png).toDF())
          run("multimodal_jpeg_features", MultimodalOps.decodeJpeg(jpeg).toDF())
          run("multimodal_jpeg_color_features", MultimodalOps.decodeJpegColor(jpegColor).toDF())
          run("multimodal_wav_features", MultimodalOps.decodeWav(wav).toDF())
        }
      }
      if (timed) {
        rec.value("llm.cache_growth_mb", cacheMb(spark) - cacheBefore)
        if (sampled.size == 2) sampled -= sampled.keys.max
        sampled += k -> out.toSeq
      }
    }
    for (_ <- 0 until p.int("warmup")) shard(timed = false, traced = false)
    if (rec.trace) for (traced <- TracePattern) shard(true, traced)
    else while (rec.before(seconds) && next < shards.size) shard(true, false)
    if (rec.before(seconds) && !rec.trace)
      System.err.println(s"dwbench: curate ran out of shards after ${shards.size}")
    if (!rec.trace) for ((k, outs) <- sampled; (name, rows, schema) <- outs) {
      val path = s"$base/check/shard_$k/$name"
      save(spark, rows, schema, path)
      rec.check(path, name, shards(k))
    }
  }
}

package graftbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.SparkEntry
import graft.operators.Dedup
import graft.pipeline.Config._
import graft.pipeline.{ExportRunner, FileStaging, LoadRunner, SchemaCoercion}
import graft.pipeline.LoadRunner.{Load, TextSpec}
import graft.sinks.TextWriteFormat
import graft.sources.TextFormat
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.io.File
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Closed-loop harness for one benchmark workload: one client runs its ops
  * one after another through the program's public entry points. Reads the
  * plan the runner wrote (inputs, sizing, seconds, trace flag), sets up,
  * runs one untimed warm-up op, then ops until the time is up, and writes
  * every timing, the observations the runner's output checks need, and
  * (traced runs) the trace as one JSON file.
  *
  * Usage: graftbench.Main <plan.json> <result.json>
  */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Ctx(spark: SparkSession, plan: JsonNode, work: String,
                       tracer: Tracer, traceMode: Boolean) {
    def input: JsonNode = plan.get("input")
  }

  def main(args: Array[String]): Unit = {
    val plan = mapper.readTree(new File(args(0)))
    val cores = plan.get("cores").asInt
    val work = plan.get("work").asText
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark)
    val ctx = Ctx(spark, plan, work, tracer, plan.get("trace").asBoolean)
    val readyMs = tracer.nowMs

    val body: mutable.Map[String, Any] = plan.get("workload").asText match {
      case "etl"          => Workloads.etl(ctx)
      case "dedup_ingest" => Workloads.dedup(ctx)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    body("ready_ms") = readyMs
    body("peak_rss_kb") = peakRssKb
    if (ctx.traceMode) body ++= tracer.dump
    mapper.writeValue(new File(args(1)), body)
    spark.stop()
  }

  private def peakRssKb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)
}

object Workloads {
  import Main.Ctx

  type Obs = mutable.Map[String, Any]

  /** The op loop: untimed warm-up ops until `warmup_seconds` have passed
    * (the JIT keeps speeding ops up for several seconds after set-up),
    * then timed ops until `seconds` have passed (or `limit` ops ran). In a
    * traced run every other timed op is traced, so traced and untraced op
    * times come from one process; such a run has at least one of each. */
  def loop(ctx: Ctx, limit: Int)(op: (Int, Obs) => Unit)
      (after: (Int, Boolean, Obs) => Unit): Seq[Obs] = {
    val seconds = ctx.plan.get("seconds").asDouble
    val warmupMs = ctx.plan.get("warmup_seconds").asDouble * 1e3
    val out = mutable.ArrayBuffer[Obs]()
    def one(i: Int, warmup: Boolean, traced: Boolean): Unit = {
      val o: Obs = mutable.Map("i" -> i, "warmup" -> warmup, "traced" -> traced)
      val t0 = ctx.tracer.nowMs
      ctx.tracer.op(i, traced)(op(i, o))
      o("t0") = t0
      o("wall_s") = (ctx.tracer.nowMs - t0) / 1e3
      after(i, traced, o)
      out += o
    }
    val warmStart = ctx.tracer.nowMs
    var i = 0
    while (i == 0 || (ctx.tracer.nowMs - warmStart < warmupMs && i < limit - 1)) {
      one(i, warmup = true, traced = false)
      i += 1
    }
    val start = ctx.tracer.nowMs
    val firstTimed = i
    while ((ctx.tracer.nowMs - start < seconds * 1e3 || (ctx.traceMode && i < firstTimed + 2)) &&
        i < limit) {
      one(i, warmup = false, traced = ctx.traceMode && (i - firstTimed) % 2 == 0)
      i += 1
    }
    out.toSeq
  }

  def timed[T](o: Obs, key: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally o(key) = (System.nanoTime() - t0) / 1e9
  }

  /** Repeat the workload's set-up `rounds` times from scratch; returns the
    * round times and the value the last round built. */
  def setupRounds[T](ctx: Ctx)(build: Int => T): (Seq[Double], T) = {
    val rounds = (0 until ctx.plan.get("setup_rounds").asInt).map { r =>
      val t0 = System.nanoTime()
      val built = build(r)
      ((System.nanoTime() - t0) / 1e9, built)
    }
    (rounds.map(_._1), rounds.last._2)
  }

  private def schemaOf(n: JsonNode): Seq[TargetColumn] =
    n.elements().asScala.map { c =>
      TargetColumn(c.get(0).asText, c.get(1).asText, c.get(2).asInt)
    }.toSeq

  private def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText).toSeq

  /** German-locale ';'-CSV with a header line. */
  private def germanCsv(header: Seq[String]) =
    TextFormat(header = header, sep = ";", skip = 1, thousandSep = ".", decimalSep = ",")

  private def dirStats(p: String): (Long, Long) = {
    val root = Paths.get(p)
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try {
        val files = s.iterator().asScala.filter(f => Files.isRegularFile(f) &&
          !f.getFileName.toString.startsWith(".") && !f.getFileName.toString.startsWith("_")).toSeq
        (files.size.toLong, files.map(Files.size).sum)
      } finally s.close()
    }
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
  }

  /** The parse and coerce probes of a traced load op: the op's input read
    * through `LoadRunner.read`, then read + hooks + `SchemaCoercion`, each
    * forced into the noop sink. Returns the coerce error-row count. */
  private def probes(ctx: Ctx, paths: Seq[String], load: Load, op: Int): Long = {
    val spark = ctx.spark
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    ctx.tracer.op(-1 - op, traced = true) {
      ctx.tracer.span("probe.parse")(noop(LoadRunner.read(spark, paths, load)))
      ctx.tracer.span("probe.coerce")(noop(SchemaCoercion(
        LoadRunner.applyHooks(spark, LoadRunner.read(spark, paths, load), load, None),
        load.db.targetSchema)))
    }
    SchemaCoercion(LoadRunner.read(spark, paths, load), load.db.targetSchema)
      .filter(size(col("_errors")) > 0).count()
  }

  // --- etl ------------------------------------------------------------------

  /** One op of the paper's load loop, twice over: the bulk lineitem files
    * staged, appended into a truncated table and archived; one orders delta
    * staged, upserted into the standing table and archived; then an
    * aggregate and a full dump exported from the bulk table. */
  def etl(ctx: Ctx): mutable.Map[String, Any] = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val bulkIn = ctx.input.get("bulk")
    val upIn = ctx.input.get("upsert")
    val bulkSrc = bulkIn.get("dir").asText
    val upSrc = upIn.get("dir").asText
    val bulkLoad = Load(TextSpec(germanCsv(strings(bulkIn.get("header")))),
      DbConfig(table = "lineitem", targetSchema = schemaOf(bulkIn.get("schema")),
        strategy = Append, keepContent = false))
    def upsertLoad(keep: Boolean) = Load(TextSpec(germanCsv(strings(upIn.get("header")))),
      DbConfig(table = "orders", targetSchema = schemaOf(upIn.get("schema")),
        strategy = Upsert(Seq("o_orderkey")), keepContent = keep))
    val deltas = upIn.get("deltas").elements().asScala.map(_.get("file").asText).toIndexedSeq
    val bulkTable = s"${ctx.work}/tables/lineitem"
    val stageDir = s"${ctx.work}/stage"
    val history = s"${ctx.work}/history"

    /** stage -> load -> archive, one span per step named `part.step`. */
    def stageLoadArchive(part: String, glob: String, load: Load, table: String) = {
      val (st, landed) = tr.span(s"$part.stage") {
        val st = new FileStaging(stageDir, history)
        val landed = st.getLocalFiles(glob)
        st.checkFiles(landed)
        (st, landed)
      }
      val res = tr.span(s"$part.load")(LoadRunner.run(spark, landed.map(st.path), load, table))
      tr.span(s"$part.archive") { st.markProcessed(landed); st.finish() }
      res
    }

    val (rounds, ordersTable) = setupRounds(ctx) { r =>
      val t = s"${ctx.work}/tables/orders_r$r"
      stageLoadArchive("standing", s"$upSrc/${upIn.get("standing").asText}",
        upsertLoad(keep = false), t)
      deleteTree(Paths.get(history))
      t
    }
    val exports = Seq(
      ExportRunner.Export(
        query = "SELECT l_returnflag, l_linestatus, count(*) AS n, " +
          "sum(l_quantity) AS qty FROM lineitem GROUP BY l_returnflag, l_linestatus " +
          "ORDER BY l_returnflag, l_linestatus",
        fileName = "lineitem_summary.csv", format = TextWriteFormat(Nil, sep = ";")),
      ExportRunner.Export(query = "SELECT * FROM lineitem", fileName = "lineitem_dump.csv",
        format = TextWriteFormat(Nil, sep = ";")))

    val ops = loop(ctx, Int.MaxValue) { (i, o) =>
      val t0 = tr.nowMs
      val b = stageLoadArchive("bulk", s"$bulkSrc/lineitem_*.csv", bulkLoad, bulkTable)
      val t1 = tr.nowMs
      val delta = deltas(i % deltas.size)
      val u = stageLoadArchive("upsert", s"$upSrc/$delta", upsertLoad(keep = true), ordersTable)
      val t2 = tr.nowMs
      val e: Obs = mutable.Map()
      e("archived") = tr.span("export") {
        spark.read.parquet(bulkTable).createOrReplaceTempView("lineitem")
        val st = new FileStaging(stageDir, history)
        val results = exports.map(x => ExportRunner.run(spark, x, st))
        e("rows") = results.map(_.rows).sum
        e("bytes") = results.map(r => Files.size(Paths.get(r.file))).sum
        st.finish()
      }
      e("s") = (tr.nowMs - t2) / 1e3
      o("bulk") = mutable.Map[String, Any]("load_s" -> (t1 - t0) / 1e3, "rows" -> b.rows,
        "error_sample" -> b.errors.size)
      o("upsert") = mutable.Map[String, Any]("load_s" -> (t2 - t1) / 1e3, "rows" -> u.rows,
        "error_sample" -> u.errors.size, "delta" -> delta)
      o("export") = e
    } { (_, traced, o) =>
      val b = o("bulk").asInstanceOf[Obs]
      b("table") = bulkFacts(spark, bulkTable)
      val e = o("export").asInstanceOf[Obs]
      val archived = e("archived").asInstanceOf[Seq[String]]
      def archivedFile(prefix: String) = Paths.get(history, archived.find(_.startsWith(prefix)).get)
      e("summary_text") = new String(Files.readAllBytes(archivedFile("lineitem_summary")), "UTF-8")
      e("dump_lines") = Files.lines(archivedFile("lineitem_dump")).count()
      val u = o("upsert").asInstanceOf[Obs]
      u("checksum") = orderChecksum(spark, ordersTable)
      u("table_files") = dirStats(ordersTable)._1
      if (traced)
        b("coerce_error_rows") = probes(ctx, strings(bulkIn.get("files")).map(f => s"$bulkSrc/$f"),
          bulkLoad, o("i").asInstanceOf[Int])
      deleteTree(Paths.get(history))
    }
    mutable.Map("setup_rounds" -> rounds, "ops" -> ops.map(_.toMap))
  }

  /** Independent read of the committed lineitem table: plain parquet,
    * plain aggregates, nothing from the load path. */
  private def bulkFacts(spark: SparkSession, table: String): Map[String, String] = {
    val t = spark.read.parquet(table)
    val money = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
    val ints = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
    val aggs = Seq(count(lit(1)).cast("string").as("rows")) ++
      Seq("l_partkey", "l_suppkey", "l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .map(c => (count(lit(1)) - count(col(c))).cast("string").as(s"nulls.$c")) ++
      ints.map(c => sum(col(c)).cast("string").as(s"sums.$c")) ++
      money.map(c => sum(col(c) * 100).cast("decimal(38,0)").cast("string").as(s"sums.$c")) ++
      Seq(sum(unix_timestamp(col("l_shipdate"))).cast("string").as("sums.l_shipdate"))
    val r = t.agg(aggs.head, aggs.tail: _*).head()
    aggs.indices.map(i => r.schema(i).name -> r.getString(i)).toMap
  }

  /** (count, key sum, key-square hash sum, value hash sum) of the orders
    * table, by the same arithmetic as the generator's replay. */
  private def orderChecksum(spark: SparkSession, table: String): Seq[String] = {
    val p = 2147483647L
    val k = col("o_orderkey")
    val r = spark.read.parquet(table).agg(count(lit(1)), sum(k), sum(pmod(k * k, lit(p))),
      sum(pmod(k * 1000003L + (col("o_totalprice") * 100).cast("long") * 31L +
        col("o_custkey") * 7L + (unix_timestamp(col("o_orderdate")) / 86400).cast("long") * 13L +
        ascii(col("o_orderstatus")) * 17L + ascii(col("o_orderpriority")) * 19L, lit(p)))).head()
    (0 until 4).map(j => r.get(j).toString)
  }

  // --- dedup_ingest ---------------------------------------------------------

  def dedup(ctx: Ctx): mutable.Map[String, Any] = {
    val spark = ctx.spark
    val in = ctx.input
    val src = in.get("dir").asText
    val docs = spark.read.parquet(s"$src/${in.get("store").asText}")
    val batches = in.get("batches").elements().asScala.map(_.get("file").asText).toIndexedSeq
    val threshold = in.get("threshold").asDouble
    val (rounds, store) = setupRounds(ctx) { r =>
      val path = s"${ctx.work}/store_r$r"
      Dedup.writeSignatureStore(Dedup.minhashSignatures(docs, "doc_id", "text"), path, "doc_id",
        buckets = in.get("buckets").asInt)
      Dedup.writeBandIndex(spark, path, "doc_id")
      Dedup.writeShingleSidecar(spark, path, docs, "doc_id", "text")
      path
    }
    val ops = loop(ctx, batches.size) { (i, o) =>
      val delta = spark.read.parquet(s"$src/${batches(i)}")
      val verdicts = ctx.tracer.span("judge") {
        Dedup.lshJudgeStore(spark, store, delta.limit(0), delta, "doc_id", "text",
          threshold = threshold).collect()
      }
      ctx.tracer.span("absorb")(Dedup.ingestBatchIntoStore(spark, store, delta, "doc_id", "text"))
      o("batch") = i
      o("verdicts") = verdicts.map(r => Seq(r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Double]("jaccard"))).toSeq
    } { (_, _, o) =>
      o("store_docs") = spark.read.parquet(s"$store/data").select("doc_id").distinct().count()
      val (files, bytes) = dirStats(store)
      o("store_files") = files
      o("store_bytes") = bytes
    }
    val out = mutable.Map[String, Any]("setup_rounds" -> rounds, "ops" -> ops.map(_.toMap))
    if (ctx.traceMode) out("gate_passes") = gatePasses(ctx)
    out
  }

  // --- gates (traced dedup runs) --------------------------------------------

  /** Op id of the traced gate pass. */
  val GatePassOp = 100000

  /** The 12 gates through `SparkEntry.queries`: one untraced pass that
    * keeps every gate's rows for the runner's oracle comparison (and warms
    * the gates up), then one traced pass into the noop sink, prepare and
    * exec timed apart. */
  def gatePasses(ctx: Ctx): Seq[Map[String, Any]] = {
    val spark = ctx.spark
    val dir = ctx.input.get("gate_dir").asText
    val names = strings(ctx.input.get("gates"))
    val registry = SparkEntry.queries
    Seq(false, true).map { traced =>
      val o: Obs = mutable.Map("traced" -> traced, "op" -> GatePassOp)
      val t0 = ctx.tracer.nowMs
      ctx.tracer.op(GatePassOp, traced) {
        for (g <- names) ctx.tracer.span(s"gate.$g") {
          val df = ctx.tracer.span("prepare")(timed(o, s"prepare.$g")(registry(g)(spark, dir)))
          ctx.tracer.span("exec")(timed(o, s"exec.$g") {
            if (traced) df.write.format("noop").mode("overwrite").save()
            else df.write.mode("overwrite").parquet(s"${ctx.work}/gates/$g")
          })
        }
      }
      o("wall_s") = (ctx.tracer.nowMs - t0) / 1e3
      o.toMap
    }
  }
}

/** Writes the DuckDB oracle SQL of the named gates as one JSON object, for
  * deriving the gate references once (perfbench/derive_gates.py).
  *
  * Usage: graftbench.OracleDump <out.json> <gate>...
  */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val oracles = SparkEntry.oracleSql
    val picked = args.toSeq.tail.map(g => g -> oracles(g)).toMap
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new File(args(0)), picked)
  }
}

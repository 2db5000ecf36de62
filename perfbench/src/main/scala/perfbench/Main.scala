package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** JVM side of the benchmark. `run.py` generates the inputs, launches
  * one of these modes, checks the outputs and computes the metrics from
  * the JSON file each mode writes.
  *
  *   queries  one warm session: set-up, warm-up pass, timed passes
  *   etl      one cold batch job: XetraPipeline.run then EurexPipeline.run
  *   survey   cold build+noop time and job count of every registry query
  *
  * Arguments are key=value pairs.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.drop(1).map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    args(0) match {
      case "queries" => Queries.run(kv)
      case "etl"     => Etl.run(kv)
      case "survey"  => Survey.run(kv)
    }
  }

  /** The session settings of graft.Bench (query workloads) and
    * graft.etl.EtlMain (ETL), with the warehouse inside the run directory
    * so every run starts from an empty one. */
  def session(cores: Int, warehouse: String, app: String, bench: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
    if (bench) b.config("spark.sql.codegen.cache.maxEntries", "5000")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Seconds since this JVM was launched. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Peak resident set size of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  val json = new ObjectMapper().registerModule(DefaultScalaModule)
  def writeJson(path: String, v: Any): Unit = json.writeValue(new java.io.File(path), v)

  def codegen(): (Double, Long) =
    (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e9,
      org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}

/** Query workloads: the listed registry queries run one at a time in one
  * warm session, each timed from the builder call to the end of a
  * `write.format("noop")` of the exact DataFrame graft.Verify dumps.
  *
  * `dataA` and `dataB` hold the same tables. Set-up builds the persisted
  * artifacts for A (timed) and then for B. The warm-up runs a pass on A
  * that dumps each result for the output check, then `warm_passes`
  * untimed passes alternating B, A, ...; timed passes continue the
  * alternation. Session memos keep one corpus at a time, so every pass
  * starts without a memoized frame, as the first pass of a corpus run
  * does.
  *
  * Exactly `passes` timed passes give the metrics, so every run has the
  * same sample count. Passes after them only fill `seconds`; they are run
  * and counted as attempted operations but not timed.
  */
object Queries {
  def run(kv: Map[String, String]): Unit = {
    val cores = kv("cores").toInt
    val seconds = kv("seconds").toDouble
    val passes = kv("passes").toInt
    val traced = kv("trace") == "1"
    val names = kv("queries").split(",").toSeq
    val artifacts = kv("artifacts").split(",").filter(_.nonEmpty).toSeq
    val (dirA, dirB) = (kv("data_a"), kv("data_b"))
    val spark = Main.session(cores, kv("warehouse"), "perfbench-queries", bench = true)
    graft.ops.Portable.silenceKRowWindowWarnings()
    val registry = graft.SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val sourceBuild = artifacts.map { a =>
      val t0 = System.nanoTime()
      Artifacts.build(spark, a, dirA)
      s"sources.$a.build_s" -> (System.nanoTime() - t0) / 1e9
    }.toMap
    val setupS = Main.sinceJvmStart()
    // The second copy exists only so timed passes can alternate corpora;
    // it is built after set-up is read.
    artifacts.foreach(a => Artifacts.build(spark, a, dirB))
    val warehouseAfterSetup = listDir(kv("warehouse"))

    val tracer = new Tracer(spark)
    val failures = ArrayBuffer.empty[Map[String, String]]
    var attempted = 0
    def pass(dir: String): Span = {
      tracer.span("pass", dir) {
        names.foreach { name =>
          attempted += 1
          try tracer.span("op", name) {
            val df = tracer.span("build", name)(registry(name)(spark, dir))
            tracer.built(df)
            tracer.span("action", name)(df.write.format("noop").mode("overwrite").save())
          } catch { case NonFatal(e) =>
            failures += Map("op" -> name, "error" -> String.valueOf(e.getMessage).take(500))
          }
        }
      }
      tracer.spans.last
    }

    // Warm-up: one pass on A that writes each result the way graft.Verify
    // does, for run.py to check against the DuckDB oracle.
    val dump = kv("dump")
    val warm0 = System.nanoTime()
    names.foreach { name =>
      try registry(name)(spark, dirA).coalesce(1).write.mode("overwrite").parquet(s"$dump/$name")
      catch { case NonFatal(e) => System.err.println(s"[perfbench] dump of $name failed: $e") }
    }
    Main.writeJson(s"$dump/oracle_sql.json",
      names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap)
    // Passes alternate B, A, B, ... Untimed passes follow the dump: the JIT
    // keeps compiling the queries' hot paths for several passes, and on
    // the workloads of many small jobs a pass gets faster by about a third
    // over its first eight to twelve before it levels off.
    var passNo = 0
    def nextDir(): String = { passNo += 1; if (passNo % 2 == 1) dirB else dirA }
    (0 until kv("warm_passes").toInt).foreach(_ => pass(nextDir()))
    val warmupS = (System.nanoTime() - warm0) / 1e9

    // A traced run alternates untraced and traced passes, so both sit at
    // the same point of the JIT's warm-up and their difference is the
    // tracing overhead.
    val plainPasses, tracedPasses = ArrayBuffer.empty[Span]
    var codegen = (0.0, 0L)
    val t0 = System.nanoTime()
    for (k <- 0 until (if (traced) 2 * passes else passes)) {
      val dir = nextDir()
      if (traced && k % 2 == 1) {
        val (c0, k0) = Main.codegen()
        tracedPasses += tracer.listening(pass(dir))
        val (c1, k1) = Main.codegen()
        codegen = (codegen._1 + c1 - c0, codegen._2 + k1 - k0)
      } else plainPasses += pass(dir)
    }
    var fillPasses = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      pass(nextDir())
      fillPasses += 1
    }
    val report = if (traced) Some(tracer.report(tracedPasses.toSeq, cores)) else None
    val builtAfterSetup = listDir(kv("warehouse")) -- warehouseAfterSetup

    def spanJson(s: Span) = Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "kind" -> s.kind,
      "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end)
    val plainIds = plainPasses.map(_.id).toSet
    Main.writeJson(kv("out"), Map(
      "setup_s" -> setupS,
      "warmup_s" -> warmupS,
      "sources" -> sourceBuild,
      "pass_wall_s" -> plainPasses.map(p => (p.end - p.start) / 1e9),
      "op_s" -> tracer.spans.filter(s => s.kind == "op" && plainIds(s.parent)).map(s => (s.end - s.start) / 1e9),
      "fill_passes" -> fillPasses,
      "ops_attempted" -> attempted,
      "failures" -> failures,
      "built_after_setup" -> builtAfterSetup.toSeq.sorted,
      "peak_rss_mb" -> Main.peakRssMb(),
      "trace" -> report.map(r => traceJson(r, codegen, tracer.spans.toVector.map(spanJson)))))
    spark.stop()
  }

  def traceJson(r: Report, codegen: (Double, Long), spans: Seq[Any]): Map[String, Any] = Map(
    "roots" -> r.roots, "wall_s" -> r.wall, "self_s" -> r.self,
    "layers" -> (r.layers ++ Map("codegen.compile_s" -> codegen._1,
      "codegen.classes" -> codegen._2.toDouble)),
    "spans" -> spans)

  private def listDir(d: String): Set[String] =
    Option(new java.io.File(d).list()).map(_.toSet).getOrElse(Set.empty)
}

/** The persisted artifacts a query workload reads, built in set-up
  * through the same ensure calls graft.Bench warms them with. */
object Artifacts {
  val builders: Map[String, (SparkSession, String) => Unit] = Map(
    "PairStore.pairs" -> ((s, d) => graft.sources.PairStore.ensurePairs(s, d).count()))

  def build(spark: SparkSession, name: String, dir: String): Unit = builders(name)(spark, dir)
}

/** etl_ingest: one cold batch job, as graft.etl.EtlMain runs it. */
object Etl {
  def run(kv: Map[String, String]): Unit = {
    val cores = kv("cores").toInt
    val out = kv("output")
    val spark = Main.session(cores, kv("warehouse"), "graft-etl", bench = false)
    val setupS = Main.sinceJvmStart()
    val tracer = new Tracer(spark)
    val traced = kv("trace") == "1"
    val (c0, n0) = Main.codegen()
    def job(): Unit = tracer.span("etl", "job") {
      tracer.span("op", "XetraPipeline.run")(graft.etl.XetraPipeline.run(spark, kv("xetra"), out))
      tracer.span("op", "EurexPipeline.run")(graft.etl.EurexPipeline.run(spark, kv("eurex"), kv("dimension"), out))
    }
    if (traced) tracer.listening(job()) else job()
    val (c1, n1) = Main.codegen()
    val spans = tracer.spans.toVector
    def dur(name: String) = spans.filter(_.name == name).map(s => (s.end - s.start) / 1e9).sum
    val report = if (traced) Some(tracer.report(spans.filter(_.kind == "etl"), cores)) else None
    Main.writeJson(kv("out"), Map(
      "setup_s" -> setupS,
      "wall_s" -> dur("job"),
      "op_s" -> Seq(dur("XetraPipeline.run"), dur("EurexPipeline.run")),
      "peak_rss_mb" -> Main.peakRssMb(),
      "trace" -> report.map(r => Queries.traceJson(r, (c1 - c0, n1 - n0), Seq.empty))))
    spark.stop()
  }
}

/** Cold build+noop seconds and Spark job count of every registry query,
  * in registry order, on one session: the measurements the frozen query
  * lists were cut from. */
object Survey {
  def run(kv: Map[String, String]): Unit = {
    val cores = kv("cores").toInt
    val spark = Main.session(cores, kv("warehouse"), "perfbench-survey", bench = true)
    graft.ops.Portable.silenceKRowWindowWarnings()
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    })
    val w = new java.io.PrintWriter(kv("out"))
    graft.SparkEntry.queries.foreach { case (name, fn) =>
      org.apache.spark.perfbench.SparkInternals.drainListeners(spark)
      jobs.set(0)
      val t0 = System.nanoTime()
      val err = try { fn(spark, kv("data")).write.format("noop").mode("overwrite").save(); "" }
        catch { case NonFatal(e) => String.valueOf(e.getMessage).take(200) }
      val s = (System.nanoTime() - t0) / 1e9
      org.apache.spark.perfbench.SparkInternals.drainListeners(spark)
      w.println(Main.json.writeValueAsString(Map("name" -> name, "cold_s" -> s, "jobs" -> jobs.get(), "error" -> err)))
      w.flush()
    }
    w.close()
    spark.stop()
  }
}

package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.operators.SimilarityOps
import graft.sources.Formats

/** JVM side of the benchmark (perfbench/run.py launches it).
  *
  * Modes:
  *  - `run`: closed loop, one calling thread, one session. A cold first
  *    pass, then `--passes` later passes (fewer only if `--seconds` run
  *    out first), then an untimed verify pass that writes each result as
  *    parquet for the oracle check. Before every query, untimed: the
  *    session tables and IVF indexes are dropped, persistent RDDs
  *    unpersisted, the cache cleared and a GC run. A query is
  *    `SparkEntry.queries(name)` built and materialised through the
  *    `noop` sink.
  *  - `oracle-sql`: write `SparkEntry.oracleSql` for the named queries.
  *
  * Output: JSON lines on stdout; the last one is the result.
  */
object Harness {

  private def opt(args: Array[String], k: String): Option[String] =
    args.sliding(2).collectFirst { case Array(`k`, v) => v }

  def main(args: Array[String]): Unit = {
    val get = (k: String) => opt(args, k).getOrElse(
      sys.error(s"missing argument $k"))
    val queries = get("--queries").split(",").toSeq.filter(_.nonEmpty)
    get("--mode") match {
      case "oracle-sql" => dumpOracles(queries, get("--out"))
      case "run" => run(args, get, queries)
      case m => sys.error(s"unknown mode $m")
    }
  }

  private def dumpOracles(queries: Seq[String], out: String): Unit = {
    val all = SparkEntry.oracleSql
    val missing = queries.filterNot(all.contains)
    require(missing.isEmpty, s"no oracle for ${missing.mkString(", ")}")
    Files.writeString(Paths.get(out),
      Json.obj(queries.map(q => q -> Json.str(all(q)))) + "\n")
  }

  /** GraftSession.local with the run's scratch dirs, plus the first
    * function-registry lookup that forces the session state (extensions
    * and graft functions) into being. */
  private def boot(get: String => String): (SparkSession, Double) = {
    val work = get("--work")
    val t0 = System.nanoTime
    val spark = GraftSession.local(get("--threads").toInt, "graft-perfbench",
      Map("spark.sql.warehouse.dir" -> s"$work/warehouse",
        "spark.local.dir" -> s"$work/local"))
    require(spark.catalog.functionExists("graft_cosine"),
      "graft functions are not registered")
    val bootS = (System.nanoTime - t0) / 1e9
    println(Json.obj(Seq("event" -> Json.str("ready"))))
    (spark, bootS)
  }

  private final case class Timed(query: String, wallS: Double, cpuS: Double,
      constructS: Double, constructJobs: Double, error: Option[String])

  private def run(args: Array[String], get: String => String,
      queries: Seq[String]): Unit = {
    val (spark, bootS) = boot(get)
    val dataDir = get("--data")
    val seconds = get("--seconds").toDouble
    val passes = get("--passes").toInt
    val threads = get("--threads").toInt
    val verifyDir = get("--verify-dir")
    val tracer = if (get("--trace") == "1") Some(Tracer.install(spark)) else None
    val missing = queries.filterNot(SparkEntry.queries.contains)
    require(missing.isEmpty, s"unknown queries ${missing.mkString(", ")}")
    val rng = new scala.util.Random(get("--seed").toLong)
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).toSeq
    val breakdown = scala.collection.mutable.ArrayBuffer.empty[String]

    var resetS = 0.0
    def reset(): Unit = {
      val t0 = System.nanoTime
      Formats.dropSessionTables(spark)
      SimilarityOps.dropIvfIndexes(spark)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      spark.catalog.clearCache()
      System.gc()
      resetS += (System.nanoTime - t0) / 1e9
    }

    def drain(): Map[String, Double] = tracer.map { t =>
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      t.snapshot()
    }.getOrElse(Map.empty)

    // heap_peak_mb: the largest heap in use after a full GC at the end of
    // a later-pass query, while its checkpoint blocks, broadcasts and
    // stream state are still held (the reset frees them after). Unlike
    // the pools' raw peaks, which track how far G1 lets eden grow, this
    // moves only with what the program keeps.
    var retainedPeak = 0L

    /** One query: construct (the `SparkEntry.queries` call) and
      * materialise. Only those two steps are timed; in the traced run the
      * bus is drained between and after them, outside the timer. */
    def one(q: String, write: DataFrame => Unit, pass: Int,
        weighHeap: Boolean): Timed = {
      reset()
      val before = drain()
      var constructS, wallS, cpuS = 0.0
      var afterConstruct = before
      val error = try {
        val c0 = os.getProcessCpuTime
        val t0 = System.nanoTime
        val df = SparkEntry.queries(q)(spark, dataDir)
        val t1 = System.nanoTime
        val c1 = os.getProcessCpuTime
        constructS = (t1 - t0) / 1e9
        wallS = constructS
        cpuS = (c1 - c0) / 1e9
        afterConstruct = drain()
        val c2 = os.getProcessCpuTime
        val t2 = System.nanoTime
        write(df)
        wallS += (System.nanoTime - t2) / 1e9
        cpuS += (os.getProcessCpuTime - c2) / 1e9
        if (weighHeap) {
          System.gc()
          retainedPeak = math.max(retainedPeak,
            heapPools.map(_.getUsage.getUsed).sum)
        }
        None
      } catch {
        case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      error.foreach(m => System.err.println(s"[perfbench] $q failed: $m"))
      val constructJobs = afterConstruct.getOrElse("scheduler.jobs", 0.0) -
        before.getOrElse("scheduler.jobs", 0.0)
      if (tracer.isDefined) {
        val d = delta(drain(), before) ++ Map(
          "operators.construct_s" -> constructS,
          "operators.construct_jobs" -> constructJobs)
        breakdown += Json.obj(Seq("pass" -> pass.toString, "query" -> Json.str(q),
          "wall_s" -> Json.num(wallS), "ok" -> error.isEmpty.toString) ++
          d.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) })
      }
      Timed(q, wallS, cpuS, constructS, constructJobs, error)
    }

    val noop = (df: DataFrame) => df.write.format("noop").mode("overwrite").save()

    final case class Pass(wallS: Double, cpuS: Double, layers: Map[String, Double],
        queries: Seq[Timed])

    def pass(n: Int): (Pass, Int) = {
      val before = drain()
      val ts = rng.shuffle(queries).map(q => one(q, noop, n, n > 0))
      val wall = ts.map(_.wallS).sum
      val layers = tracer.map { _ =>
        val d = delta(drain(), before)
        d ++ Map(
          "operators.construct_s" -> ts.map(_.constructS).sum,
          "operators.construct_jobs" -> ts.map(_.constructJobs).sum,
          "scheduler.idle_s" -> math.max(0.0, wall - d.getOrElse("scheduler.busy_s", 0.0)),
          "executor.core_util" -> d.getOrElse("executor.cpu_s", 0.0) / (wall * threads))
      }.getOrElse(Map.empty)
      (Pass(wall, ts.map(_.cpuS).sum, layers, ts), ts.count(_.error.nonEmpty))
    }

    val (first, firstFailed) = pass(0)
    val later = scala.collection.mutable.ArrayBuffer.empty[Pass]
    var failed = firstFailed
    val start = System.nanoTime
    // A fixed number of later passes, so that a faster or slower program
    // takes its medians over the same passes. --seconds only caps them.
    while (later.size < passes &&
        (later.isEmpty || (System.nanoTime - start) / 1e9 < seconds)) {
      val (p, f) = pass(later.size + 1)
      later += p
      failed += f
    }

    // Verify pass: untimed, in query order, one parquet file per result.
    val verifyFailed = queries.count { q =>
      one(q, df => df.coalesce(1).write.mode("overwrite")
        .parquet(s"$verifyDir/$q"), later.size + 1, false).error.nonEmpty
    }
    failed += verifyFailed
    Formats.dropSessionTables(spark)

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val layerKeys = later.flatMap(_.layers.keys).distinct.filterNot(
      Set("scheduler.busy_s"))
    val layerMedians = layerKeys.sorted.map(k =>
      k -> Json.num(median(later.map(_.layers.getOrElse(k, 0.0)).toSeq)))
    opt(args, "--breakdown").filter(_ => tracer.isDefined).foreach { f =>
      Files.writeString(Paths.get(f), breakdown.mkString("", "\n", "\n"))
    }
    println(Json.obj(Seq(
      "event" -> Json.str("result"),
      "executions" -> ((later.size + 2) * queries.size).toString,
      "failed" -> failed.toString,
      "passes" -> later.size.toString,
      "first_pass_s" -> Json.num(first.wallS),
      "pass_s" -> Json.num(median(later.map(_.wallS).toSeq)),
      // The mean, not the median: JIT compilation adds CPU that fades
      // over the later passes, about the same total in every run, so the
      // median of five passes picks a point on that slope and the mean
      // does not (ten seeds on a 4-core host: spread 0.11 against 0.19).
      "cpu_s" -> Json.num(later.map(_.cpuS).sum / later.size),
      "heap_peak_mb" -> Json.num(retainedPeak / Tracer.MB),
      "reset_s" -> Json.num(resetS),
      "pass_walls" -> later.map(p => Json.num(p.wallS)).mkString("[", ",", "]"),
      "pass_cpus" -> later.map(p => Json.num(p.cpuS)).mkString("[", ",", "]"),
      "query_walls" -> Json.obj((first +: later.toSeq).flatMap(_.queries)
        .groupBy(_.query).toSeq.sortBy(_._1).map { case (q, ts) =>
          q -> ts.map(t => Json.num(t.wallS)).mkString("[", ",", "]") }),
      "layers" -> Json.obj(("GraftSession.boot_s" -> Json.num(bootS)) +:
        layerMedians.toSeq))))
    spark.stop()
  }

  private def delta(a: Map[String, Double], b: Map[String, Double])
      : Map[String, Double] =
    a.map { case (k, v) => k -> (v - b.getOrElse(k, 0.0)) }
}

/** Just enough JSON writing for flat objects of numbers and strings. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** What a workload hands back to [[Harness]]. */
final class Report {
  /** Setup parts, in seconds, in the order they ran. */
  val setup = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Wall of each round of the workload's unit of work, seconds. */
  val rounds = scala.collection.mutable.ArrayBuffer.empty[Double]
  /** Bytes the workload's write path left on disk over the bytes of the
    * input it wrote them for; one value per measured unit.
    */
  val writeAmps = scala.collection.mutable.ArrayBuffer.empty[Double]
  /** Per-layer metrics (traced run only). */
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** Outputs for the correctness gate: name -> (parquet dir, oracle SQL,
    * view name -> DuckDB source expression).
    */
  val outputs = scala.collection.mutable.ArrayBuffer.empty[(String, String, String, Map[String, String])]
}

/** Entry point of the benchmark JVM.
  *
  * Usage: `Harness --workload W --data D --work K --seconds S --trace 0|1
  *   --cores N --seed X --out result.json`
  *
  * Starts one `local[N]` session (shuffle partitions N), runs the workload's
  * setup, then its timed work (a single closed-loop client; `S` sets how
  * many units of work, see [[Ctx.units]]), keeps the outputs the
  * correctness gate checks and writes a JSON result file. Nothing here decides pass or fail: the gate and
  * the metric arithmetic live in `run.py`.
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val cores = a("cores").toInt
    val work = new File(a("work")).getAbsolutePath
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a("workload")}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val calls = new Calls(spark, a("trace") == "1")
    val ctx = Ctx(spark, calls, new File(a("data")).getAbsolutePath, work,
      a("seconds").toDouble, a("seed").toLong, cores)
    val report = new Report
    report.setup("session") = sessionS
    val measuredS = a("workload") match {
      case "warehouse_reports" => Workloads.warehouseReports(ctx, report)
      case "incremental_ingest" => Workloads.incrementalIngest(ctx, report)
      case "curation_build" => Workloads.curationBuild(ctx, report)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    calls.drain()
    val mb = 1024.0 * 1024.0
    val peakHeapMb = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / mb
    // what the session still holds after the work (memos, plans, block
    // metadata): unlike the peak, it does not depend on when GC ran
    System.gc()
    val retainedHeapMb =
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / mb

    val om = new ObjectMapper()
    val root = om.createObjectNode()
    root.put("workload", a("workload"))
    root.put("measured_s", measuredS)
    root.put("peak_heap_mb", peakHeapMb)
    root.put("retained_heap_mb", retainedHeapMb)
    val amps = root.putArray("write_amps")
    report.writeAmps.foreach(x => amps.add(x))
    root.put("spark_version", spark.version)
    root.put("jvm_version", System.getProperty("java.vm.version"))
    root.put("heap_max_mb", Runtime.getRuntime.maxMemory / (1024.0 * 1024.0))
    val setup = root.putObject("setup")
    report.setup.foreach { case (k, v) => setup.put(k, v) }
    val rounds = root.putArray("rounds")
    report.rounds.foreach(b => rounds.add(b))
    val cs = root.putArray("calls")
    calls.samples.foreach { s =>
      val n = cs.addObject()
      n.put("name", s.name); n.put("kind", s.kind); n.put("wall_s", s.wallS)
      n.put("ok", s.ok); if (!s.ok) n.put("error", s.error)
    }
    val layers = root.putObject("layers")
    report.layers.foreach { case (k, v) => layers.put(k, v) }
    val outs = root.putArray("outputs")
    report.outputs.foreach { case (name, path, sql, views) =>
      val n = outs.addObject()
      n.put("name", name); n.put("path", path); n.put("sql", sql)
      val v = n.putObject("views")
      views.foreach { case (k, e) => v.put(k, e) }
    }
    om.writerWithDefaultPrettyPrinter().writeValue(new File(a("out")), root)
    spark.stop()
  }
}

/** Everything a workload needs from the harness. */
final case class Ctx(spark: SparkSession, calls: Calls, data: String, work: String,
    seconds: Double, seed: Long, cores: Int) {
  /** Units of timed work a run does: `seconds` over the nominal length of
    * one unit, at least one. The count follows from the arguments alone,
    * never from a clock, so every run of the same arguments times the same
    * work however fast the program is.
    */
  def units(nominalS: Double): Int = math.max(1, math.round(seconds / nominalS).toInt)

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def dir(parts: String*): String = {
    val f = Paths.get(work, parts: _*)
    Files.createDirectories(f)
    f.toString
  }

  /** Copy every regular file in `from` into `to` (flat). */
  def copyTables(from: String, to: String, only: String => Boolean = _ => true): Unit = {
    Files.createDirectories(Paths.get(to))
    new File(from).listFiles().filter(f => f.isFile && only(f.getName)).foreach { f =>
      Files.copy(f.toPath, Paths.get(to, f.getName), StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Write a DataFrame for the correctness gate. */
  def keep(df: DataFrame, name: String): String = {
    val p = Paths.get(work, "out", s"$name.parquet").toString
    df.write.mode("overwrite").parquet(p)
    p
  }

  /** DuckDB views over the ten source tables of `dir`. */
  def baseViews(dir: String): Map[String, String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .map(t => t -> s"SELECT * FROM read_parquet('$dir/$t.parquet')").toMap
}

object Bytes {
  def under(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Bytes of every memoized artifact the engine wrote for corpus `dir`
    * in this application (the engine lays them out as
    * `<tmp>/<artifact>/<applicationId>/<sanitized dir>*`).
    */
  def artifacts(spark: SparkSession, dir: String): Long = {
    val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val tmp = new File(sys.props("java.io.tmpdir"))
    Option(tmp.listFiles()).toSeq.flatten.filter(_.getName.startsWith("graft-")).flatMap { a =>
      Option(new File(a, spark.sparkContext.applicationId).listFiles()).toSeq.flatten
        .filter(_.getName.startsWith(safe))
    }.map(f => under(f.toPath)).sum
  }
}

package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.GraftSession

/** One benchmark run in one JVM:
  *
  *  1. set-up: start the session (`GraftSession.local`: session start,
  *     graft extensions, UDAF registration; the JVM's first and only
  *     session start, so a cold one), then the workload's untimed warm-up:
  *     the first calls of a JVM run code the JIT is still compiling, and
  *     their time wanders with it. `setup_s` is the session start plus the
  *     warm-up, once per run: only the first session start of a JVM is
  *     cold.
  *  2. timed passes: at least one, and another while it is expected to end
  *     within `--seconds` (the last pass's time ahead). With `--trace 1`
  *     untraced and traced passes alternate, at least plain → traced; the
  *     first traced pass gives the per-layer numbers;
  *  3. outputs for the checks, the host calibration control, and (traced)
  *     the kernel and recall pass.
  *
  * Usage: `perfbench.Main <workload> <inputDir> <lineitem.parquet> <workDir> <seconds> <trace 0|1>
  * <cores> <result.json>`
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, lineitem, workDir, secondsArg, traceArg, coresArg, resultPath) = args
    val in = new File(inDir)
    val work = new File(workDir)
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val cores = coresArg.toInt
    val result = mutable.LinkedHashMap[String, Any]()
    val wl = Workload(workload, in)
    System.setProperty("spark.local.dir", new File(work, "local").getAbsolutePath)

    // 1. set-up
    System.setProperty("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores)
    val sessionS = Workload.secondsSince(t0)
    val t1 = System.nanoTime()
    wl.warmup(spark, new Tracer(spark, "warmup"), dir(work, "warm"))
    val warmS = Workload.secondsSince(t1)
    val setupS = sessionS + warmS

    // 2. timed passes
    val tr = new Tracer(spark, java.util.UUID.randomUUID().toString)
    val plain, tracedPasses = mutable.ArrayBuffer[PassOut]()
    var layers = Map.empty[String, Double]
    val start = System.nanoTime()
    var n = 0
    var last = 0.0
    while (n == 0 || Workload.secondsSince(start) + last <= seconds || (traced && tracedPasses.isEmpty)) {
      val traceThis = traced && n % 2 == 1
      val d = dir(work, s"pass-$n")
      val p0 = System.nanoTime()
      if (traceThis) {
        tr.start()
        val from = tr.spans.size
        val p = wl.pass(spark, tr, d)
        val listener = tr.stop()
        if (tracedPasses.isEmpty) layers = Layers.fromPass(tr, from, listener)
        tr.counts.clear()
        tracedPasses += p
      } else plain += wl.pass(spark, tr, d)
      last = Workload.secondsSince(p0)
      n += 1
    }

    // 3. outputs, control, kernels
    val outputs = wl.finish(spark, tr, work)
    val calibration = Calibration.run(spark, lineitem)
    val kernels = if (traced) wl.kernels(spark) else Map.empty[String, Double]

    result("workload") = workload
    result("setup_s") = setupS
    result("session_start_s") = sessionS
    result("warmup_s") = warmS
    result("passes") = plain.map(passJson).toSeq
    result("traced_passes") = tracedPasses.map(passJson).toSeq
    result("outputs") = outputs
    result("calibration_s") = calibration
    result("peak_rss_mb") = peakRssMb()
    if (traced) {
      result("layers") = layers ++ kernels
      result("spans") = tr.spans.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "run_id" -> s.runId, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> tr.selfSeconds(s))).toSeq
    }
    result("jvm") = Map(
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "java" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "master" -> spark.sparkContext.master,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
        .toArray.map(_.toString).filter(a => a.startsWith("-X")).toSeq)
    spark.stop()
    java.nio.file.Files.writeString(new File(resultPath).toPath, Json(result.toMap))
  }

  private def dir(work: File, name: String): File = {
    val d = new File(work, name); d.mkdirs(); d
  }

  private def passJson(p: PassOut): Map[String, Any] = Map(
    "seconds" -> p.seconds, "docs" -> p.docs, "docs_seconds" -> p.docsSeconds,
    "batches" -> p.batches, "calls" -> p.calls,
    "extra" -> p.extra)

  /** Process high-water resident set (VmHWM), in MB. */
  private def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Plain Spark over a lineitem-shaped table: a scan with a hash aggregate,
  * and a full sort. It calls no graft code, so its time tracks the host,
  * not the program. One run, in seconds. */
object Calibration {
  def run(spark: SparkSession, lineitem: String): Double = {
    val t0 = System.nanoTime()
    val li = spark.read.parquet(lineitem)
    li.groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity"), sum(col("l_extendedprice") * (lit(1) - col("l_discount"))),
        count(lit(1)))
      .collect()
    li.select("l_orderkey", "l_extendedprice").orderBy(col("l_extendedprice").desc, col("l_orderkey"))
      .write.format("noop").mode("overwrite").save()
    Workload.secondsSince(t0)
  }
}

/** Per-layer numbers of one traced pass. */
object Layers {
  /** Every per-layer metric name; a layer the workload does not reach reads 0. */
  val names: Seq[String] = Seq(
    "sources.extract_s", "sources.pages", "sources.items", "sources.tasks",
    "etl.transform_s", "etl.validate_s", "etl.quarantined", "etl.upsert_s",
    "etl.buckets_touched", "etl.bytes_rewritten", "etl.files_written", "etl.jobs",
    "text.quality_gate_s", "dedup.exact_s", "dedup.mining_s", "dedup.mining_shuffle_write_bytes",
    "dedup.mining_shuffle_records", "dedup.pairs", "graph.cc_s", "graph.cc_jobs",
    "graph.cc_shuffle_write_bytes", "dedup.restore_s", "text.pack_s",
    "ann.build_s", "ann.build_jobs", "ann.probe_s", "ann.rows_scanned_per_query",
    "ann.append_s", "ann.delete_s", "ann.compact_s",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes", "spark.shuffle_records", "spark.exchanges",
    "spark.reused_exchanges", "spark.spill_bytes", "spark.peak_exec_mem_mb",
    "spark.executor_cpu_s", "spark.gc_s")

  def fromPass(tr: Tracer, from: Int, l: WorkListener): Map[String, Double] = {
    val spans = tr.spans.drop(from)
    def selfS(name: String) = spans.filter(_.name == name).map(tr.selfSeconds).sum
    def work(pred: String => Boolean): Work = {
      val w = new Work
      spans.filter(s => pred(s.name)).foreach(s => l.byGroup.get(s"span-${s.id}").foreach(w.add))
      w
    }
    val all = work(_ => true)
    val m = mutable.LinkedHashMap[String, Double]()
    names.foreach(m(_) = 0.0)
    Seq("sources.extract", "etl.transform", "etl.validate", "etl.upsert", "text.quality_gate",
      "dedup.exact", "dedup.mining", "graph.cc", "dedup.restore", "text.pack", "ann.build",
      "ann.probe", "ann.append", "ann.delete", "ann.compact").foreach(n => m(n + "_s") = selfS(n))
    m("sources.tasks") = work(_ == "sources.extract").tasks.toDouble
    m("etl.jobs") = work(_.startsWith("etl.")).jobs.toDouble
    val mining = work(_ == "dedup.mining")
    m("dedup.mining_shuffle_write_bytes") = mining.shuffleWriteBytes.toDouble
    m("dedup.mining_shuffle_records") = mining.shuffleRecords.toDouble
    val cc = work(_ == "graph.cc")
    m("graph.cc_jobs") = cc.jobs.toDouble
    m("graph.cc_shuffle_write_bytes") = cc.shuffleWriteBytes.toDouble
    m("ann.build_jobs") = work(_ == "ann.build").jobs.toDouble
    m("spark.jobs") = all.jobs.toDouble
    m("spark.stages") = all.stages.toDouble
    m("spark.tasks") = all.tasks.toDouble
    m("spark.shuffle_write_bytes") = all.shuffleWriteBytes.toDouble
    m("spark.shuffle_read_bytes") = all.shuffleReadBytes.toDouble
    m("spark.shuffle_records") = all.shuffleRecords.toDouble
    m("spark.exchanges") = all.exchanges.toDouble
    m("spark.reused_exchanges") = all.reusedExchanges.toDouble
    m("spark.spill_bytes") = all.spillBytes.toDouble
    m("spark.peak_exec_mem_mb") = all.peakExecMem / 1048576.0
    m("spark.executor_cpu_s") = all.cpuNs / 1e9
    m("spark.gc_s") = all.gcMs / 1e3
    tr.counts.foreach { case (k, v) => m(k) = v }
    m.toMap
  }
}

/** Minimal JSON writer for the result file (maps, sequences, strings,
  * numbers, booleans). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}

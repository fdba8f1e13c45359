package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: one process, one closed-loop client,
  * `local[cpus]` Spark. It sets up (the session, then a warm-up
  * sequence for `mot_dense`, or a warm-up stream, `Run dedup-maintain`
  * and one untimed pass for `catalog`),
  * runs passes over the workload's ops back to back until `--seconds`
  * have passed, and writes every raw timing as JSON. `perfbench/run.py` generates the
  * inputs, launches this, checks the outputs and prints the metrics.
  *
  * {{{
  *   perfbench.Main --workload mot_dense --data <dir> --seconds 20
  *     --trace 0 --cpus 4 --work <dir> --out raw.json
  *     [--queries q01_pricing_summary,... --check d05_minhash_lsh_pairs,... --dump <dir>]
  * }}}
  */
object Main {

  /** One call into the program. `prepare` runs untimed before it. */
  final case class Op(name: String, kind: String, span: String,
                      prepare: SparkSession => Unit, call: SparkSession => Unit)

  final case class OpResult(name: String, seconds: Double, cpuSeconds: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    val data = o("data")
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val cpus = o("cpus")
    val out = Paths.get(o("out"))
    val work = Paths.get(o("work"))
    val queries = o.get("queries").map(_.split(',').toSeq).getOrElse(Nil)

    val trace = new Trace
    val ops = workload match {
      case "mot_dense" => Workloads.mot(data)
      case "catalog" => Workloads.catalog(data, queries)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up, on the empty artifact store of this run's own java.io.tmpdir
    val spark = trace.spanDetached("LocalSession.build") {
      graft.LocalSession.build(cpus, logLevel = "ERROR")
    }
    if (traced) trace.attach(spark)
    workload match {
      case "catalog" =>
        // Bench's setting: no state-store maintenance tick inside a timed query
        spark.conf.set("spark.sql.streaming.stateStore.maintenanceInterval", "1h")
        trace.span("setup.warmup", "plain")(Workloads.streamWarmup(spark, s"$work/warm"))
        trace.span("ArtifactStore.build", "plain")(Workloads.catalogSetup(spark, data))
        // one untimed pass, as the warm-up sequence is for mot_dense: the
        // timed queries then find the JIT and the codegen cache warm
        trace.span("setup.warmup", "plain")(ops.foreach { op =>
          op.prepare(spark)
          try op.call(spark) catch {
            case NonFatal(e) => System.err.println(s"[perfbench] warm-up ${op.name} failed: $e")
          }
        })
      case _ =>
        trace.span("setup.warmup", "plain")(Workloads.motWarmup(spark, data))
    }
    val setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val artifactBytes =
      if (workload == "catalog") dirBytes(Paths.get(System.getProperty("java.io.tmpdir"))) else 0L

    // the timed closed loop; a traced run alternates untraced and traced
    // passes (at least untraced, traced, untraced, so the coldest pass is
    // not all on one side) to measure the tracing overhead in-process
    val memory = java.lang.management.ManagementFactory.getMemoryMXBean
    var retained = 0L
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val passes = mutable.ArrayBuffer.empty[(Seq[OpResult], Boolean)]
    val loop0 = System.nanoTime()
    var p = 0
    if (traced) trace.detach()
    while (p < (if (traced) 3 else 1) || (System.nanoTime() - loop0) / 1e9 < seconds) {
      val tracedPass = traced && p % 2 == 1
      if (tracedPass) trace.attach(spark)
      val results = ops.map { op =>
        op.prepare(spark)
        val cpu0 = osBean.getProcessCpuTime
        val t0 = System.nanoTime()
        val ok = try {
          trace.span(op.span, op.kind)(op.call(spark))
          true
        } catch {
          case NonFatal(e) =>
            System.err.println(s"[perfbench] op ${op.name} failed: $e")
            false
        }
        val r = OpResult(op.name, (System.nanoTime() - t0) / 1e9,
          (osBean.getProcessCpuTime - cpu0) / 1e9, ok)
        // untimed: the heap the op left in use. The second collection
        // frees what Spark's ContextCleaner released after the first.
        System.gc()
        Thread.sleep(200)
        System.gc()
        retained = math.max(retained, memory.getHeapMemoryUsage.getUsed)
        r
      }
      if (tracedPass) trace.detach()
      passes += ((results, tracedPass))
      p += 1
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.isEmpty) Double.NaN
      else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    def passWall(rs: Seq[OpResult]) = rs.map(_.seconds).sum
    val overhead = if (!traced) 0.0 else
      median(passes.filter(_._2).map(x => passWall(x._1)).toSeq) -
        median(passes.filterNot(_._2).map(x => passWall(x._1)).toSeq)

    // untimed correctness dump of the catalog queries named for it
    o.get("dump").foreach(dir => Workloads.dump(spark, data, o("check").split(',').toSeq, dir))

    val layer = if (!traced) Nil else
      trace.metrics(Workloads.matchRows(Workloads.lastTables.values.toSeq), artifactBytes,
        passes.count(_._2), overhead)
    val sb = new StringBuilder
    sb.append("{")
    sb.append(s""""workload":${Json.str(workload)},"cpus":${Json.str(cpus)},""")
    sb.append(s""""heap_max_mb":${Runtime.getRuntime.maxMemory / 1048576.0},""")
    sb.append(s""""spark_version":${Json.str(spark.version)},""")
    sb.append(s""""setup_s":$setupS,""")
    sb.append(s""""heap_retained_mb":${retained / 1048576.0},""")
    sb.append(""""passes":[""")
    sb.append(passes.map { case (rs, t) =>
      s"""{"traced":$t,"ops":[""" + rs.map(r =>
        s"""{"name":${Json.str(r.name)},"s":${r.seconds},"cpu_s":${r.cpuSeconds},"ok":${r.ok}}""")
        .mkString(",") + "]}"
    }.mkString(","))
    sb.append("],")
    sb.append(""""tables":{""")
    sb.append(Workloads.lastTables.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString(","))
    sb.append("},")
    sb.append(s""""self_layers":[${Trace.Layers.map(l => Json.str(Trace.metricName(l))).mkString(",")}],""")
    sb.append(""""layers":[""")
    sb.append(layer.map { case (n, v, u) => s"[${Json.str(n)},$v,${Json.str(u)}]" }.mkString(","))
    sb.append("]}")
    Files.writeString(out, sb.toString)
    spark.stop()
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

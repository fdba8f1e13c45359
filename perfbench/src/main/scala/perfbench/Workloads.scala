package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.queries.{ExtQ, KernelQ, MotQ, Rel, TextQ}

/** The ops of each workload, all through the program's public entry
  * points: `graft.Run.run` for the MOT commands, `graft.SparkEntry.queries`
  * for the catalog. */
object Workloads {

  /** Metric tables the latest `Run eval` of each sequence printed. */
  val lastTables = mutable.LinkedHashMap.empty[String, String]

  private def sequences(data: String): Seq[String] =
    Files.list(Paths.get(data)).iterator().asScala
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("seq"))
      .map(_.toString).toSeq.sorted

  /** `Run track` then `Run eval` for every generated sequence. */
  def mot(data: String): Seq[Main.Op] = sequences(data).flatMap { dir =>
    val seq = Paths.get(dir).getFileName.toString
    Seq(
      Main.Op(s"$seq/track", "track", "Run.track", _ => (),
        s => graft.Run.run(s, "track", Seq(s"cfg=$data/track.yaml", s"dataset=$dir"))),
      Main.Op(s"$seq/eval", "eval", "Run.eval", _ => (),
        s => lastTables(seq) = graft.Run.run(s, "eval", Seq(s"cfg=$data/eval.yaml", s"dataset=$dir"))))
  }

  /** Catalog module of a query, the unit its wall time is summed under. */
  def module(name: String): String = {
    def in(defs: Seq[graft.queries.Q]) = defs.exists(_.name == name)
    if (in(Rel.defs)) "Rel"
    else if (in(MotQ.defs)) "MotQ"
    else if (in(KernelQ.defs)) "KernelQ"
    else if (in(TextQ.defs))
      if (name.startsWith("d")) "TextQ.dedup" else if (name.startsWith("s")) "TextQ.ann" else "TextQ.text"
    else if (in(ExtQ.defs)) if (name.startsWith("st")) "ExtQ.stream" else "ExtQ.other"
    else throw new IllegalArgumentException(s"unknown catalog query $name")
  }

  /** Drop every cross-query materialization before a query, the way
    * `graft.Bench` isolates them, so each query pays its own costs. */
  def isolate(s: SparkSession): Unit = {
    graft.Derived.reset(s)
    TextQ.resetMaterializations(s)
    s.catalog.clearCache()
    graft.streaming.StreamHygiene.reset(s)
    System.gc()
  }

  /** Each query once per pass, evaluated in full through the noop sink. */
  def catalog(data: String, queries: Seq[String]): Seq[Main.Op] = {
    val fns = graft.SparkEntry.queries
    queries.map { q =>
      val fn = fns(q)
      Main.Op(q, "query", module(q), isolate,
        s => fn(s, data).write.mode("overwrite").format("noop").save())
    }
  }

  /** The catalog's maintenance on the copied input: `dedup-maintain`
    * builds every artifact the timed queries read. */
  def catalogSetup(s: SparkSession, data: String): Unit =
    graft.Run.run(s, "dedup-maintain", Seq(s"data=$data"))

  /** Drains one small synthetic stateful stream, so the first timed
    * streaming query does not pay the micro-batch engine's one-time
    * start-up (Bench's streaming warmup, for the same reason). */
  def streamWarmup(s: SparkSession, dir: String): Unit = {
    s.range(1000).selectExpr("id", "id % 7 AS k").write.mode("overwrite").parquet(s"$dir/in")
    s.readStream.schema(s.read.parquet(s"$dir/in").schema).parquet(s"$dir/in")
      .groupBy("k").count().writeStream.format("noop").outputMode("complete")
      .option("checkpointLocation", s"$dir/checkpoint")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      .awaitTermination()
  }

  /** One small untimed sequence through both commands: JIT, codegen and
    * every stage shape of the timed commands, on a different input. */
  def motWarmup(s: SparkSession, data: String): Unit = {
    val dir = s"$data/warm"
    graft.Run.run(s, "track", Seq(s"cfg=$data/track.yaml", s"dataset=$dir"))
    graft.Run.run(s, "eval", Seq(s"cfg=$data/eval.yaml", s"dataset=$dir"))
  }

  /** Matched GT rows (CLR_TP) summed over the per-sequence table rows. */
  def matchRows(tables: Seq[String]): Long = tables.map { t =>
    val lines = t.split("\n").toSeq
    val at = lines.indexWhere(_.startsWith("CLEAR:"))
    val header = lines(at + 1).trim.split("\\s+").toSeq
    val col = header.indexOf("CLR_TP")
    lines.drop(at + 3).takeWhile(_.trim.nonEmpty)
      .map(_.trim.split("\\s+").toSeq)
      .filter(_.head != "COMBINED").map(_(col).toLong).sum
  }.sum

  /** Untimed result dump of `queries` plus their oracle SQL, in the
    * layout `tools/parity.py` reads. */
  def dump(s: SparkSession, data: String, queries: Seq[String], dir: String): Unit = {
    val fns = graft.SparkEntry.queries
    queries.foreach { q =>
      isolate(s)
      fns(q)(s, data).coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
    }
    val oracles = graft.SparkEntry.oracleSql
    val json = queries.map(q => s"${Json.str(q)}: ${Json.str(oracles(q))}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$dir/oracle_sql.json"), json)
  }
}

package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import graft.Sessions

/** One benchmark run of one workload, driven in a closed loop by a
  * single client. Invoked by `perfbench/run.py`, which generates the
  * inputs, checks the answers and computes the metrics:
  *
  * {{{
  *   graftbench.Main <workload> <inputDir> <workDir> <outDir> <seconds> <trace 0|1> <cores> <seed>
  * }}}
  *
  * Writes `outDir/result.json` (timed-region start and length, per-op
  * samples, sizes),
  * `outDir/answers.jsonl` (every answer, for the engine-independent
  * check) and, when traced, `outDir/trace.jsonl` (spans + events).
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, in, work, out, seconds, trace, cores, seed) = args
    val spark = Sessions.tuned(SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/spark-local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, trace == "1")
    val answers = new PrintWriter(s"$out/answers.jsonl")
    val ctx = Ctx(spark, tracer, in, work, answers, seconds.toDouble, seed.toLong)
    val res = try workload match {
      case "kg_lookup" => Workloads.kgLookup(ctx)
      case "stream_ingest" => Workloads.streamIngest(ctx)
      case other => sys.error(s"unknown workload $other")
    } finally answers.close()
    // cached relations still held count toward the retained heap
    val heapMb = retainedHeapMb()
    // stopping the session drains the listener bus, so the trace is whole
    spark.stop()
    tracer.write(s"$out/trace.jsonl")
    val facts = Map("cores" -> cores.toInt, "heap_retained_mb" -> heapMb)
    val pw = new PrintWriter(s"$out/result.json")
    try pw.println(J(facts ++ res)) finally pw.close()
  }

  /** Driver heap still in use after forced full collections: the
    * least of several, spaced so that Spark's context cleaner can drop
    * the blocks (broadcasts, shuffles) whose owners the first
    * collection freed.
    */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 5).map { _ =>
      System.gc(); Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }
}

final case class Ctx(spark: SparkSession, tracer: Tracer, in: String,
                     work: String, answers: PrintWriter, seconds: Double,
                     seed: Long) {
  def answer(rec: Map[String, Any], rawRows: Option[String] = None): Unit = {
    val body = J(rec)
    answers.println(rawRows.fold(body)(r => body.dropRight(1) + ",\"rows\":" + r + "}"))
  }

  /** Bytes and files under a directory tree. */
  def du(path: String): (Long, Long) = {
    def walk(f: File): (Long, Long) =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File])
        .map(walk).foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
      else if (f.isFile) (f.length, 1L) else (0L, 0L)
    walk(new File(path))
  }
}

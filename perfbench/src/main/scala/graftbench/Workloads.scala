package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.io.Source

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.Tables
import graft.api.{ClientApi, GraphQl, KnowledgeGraph}
import graft.operators.Similarity
import graft.ops.RelOps
import graft.streaming.StreamOps

/** The workloads. Each returns its result fields; answers go to
  * `ctx.answers`, one JSON object per checked op. `first_op_epoch_s`
  * is when the timed region starts (everything before it is set-up)
  * and `timed_s` how long it lasted.
  */
object Workloads {

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def rowsJson(rows: Array[Row]): String =
    rows.map(r => J(r.toSeq.map {
      case b: Array[Byte] => b.map(_ & 0xff).toSeq
      case v => v
    })).mkString("[", ",", "]")

  /** Times one op, appends its sample (`rec` plus `ms`, `ok`) and
    * writes its answer, rendered after the clock stops, or its error.
    */
  private def measure[A](ctx: Ctx, samples: ArrayBuffer[Map[String, Any]],
                         rec: Map[String, Any], render: A => String)(body: => A): Unit = {
    val s0 = System.nanoTime()
    val res = scala.util.Try(body)
    samples += rec ++ Map("ms" -> (System.nanoTime() - s0) / 1e6, "ok" -> res.isSuccess)
    res match {
      case scala.util.Success(a) => ctx.answer(rec, Some(render(a)))
      case scala.util.Failure(e) => ctx.answer(rec + ("error" -> e.toString))
    }
  }

  private def lines(path: String): Seq[String] = {
    val s = Source.fromFile(path)
    try s.getLines().filter(_.nonEmpty).toList finally s.close()
  }

  // ------------------------------------------------------------ kg_lookup

  final case class Req(kind: String, id: String, page: Int, ids: Seq[String])

  private def graphQl(kind: String, r: Req): String = kind match {
    case "target_pathways" =>
      s"""{ target(ensemblId: "${r.id}") { id approvedSymbol pathways { pathway { id name } } } }"""
    case "drug_mechanisms" =>
      s"""{ drug(chemblId: "${r.id}") { id name mechanismsOfAction { rows { targets { id approvedSymbol } mechanismOfAction } } } }"""
    case "drug_targets" =>
      s"""{ drug(chemblId: "${r.id}") { id name linkedTargets { count rows { rank target { id approvedSymbol } } } } }"""
    case "disease_known_drugs" =>
      s"""{ disease(efoId: "${r.id}") { id name knownDrugs(page: {index: ${r.page}, size: 10}) { count rows { phase drug { id name } } } } }"""
    case "disease_assoc_targets" =>
      s"""{ disease(efoId: "${r.id}") { id associatedTargets(page: {index: ${r.page}, size: 10}) { count rows { score target { id approvedSymbol } } } } }"""
    case "target_assoc_diseases" =>
      s"""{ target(ensemblId: "${r.id}") { id associatedDiseases(page: {index: 0, size: 10}) { count rows { score disease { id name } } } } }"""
    case "target_known_drugs" =>
      s"""{ target(ensemblId: "${r.id}") { id knownDrugs(page: {index: 0, size: 10}) { count rows { phase drug { id name } disease { id } } } } }"""
    case "batch_targets" =>
      s"""{ targets(ensemblIds: [${r.ids.map(i => "\"" + i + "\"").mkString(", ")}]) { id approvedSymbol } }"""
  }

  /** The RelOps star join: lineitem semi-joined to the selected parts,
    * fanned out to orders and part, revenue per (brand, priority), top
    * 10 — the reference's client-side joins as one plan.
    */
  private def starJoin(t: Tables, parts: Column): Array[Row] = {
    val li = t.lineitem.select(col("l_orderkey").as("o_orderkey"),
      col("l_partkey").as("p_partkey"), col("l_extendedprice"))
    val selected = t.part.filter(parts).select("p_partkey")
    val joined = RelOps.fanout(
      RelOps.fanout(RelOps.semi(li, selected, Seq("p_partkey")),
        t.orders.select("o_orderkey", "o_orderpriority"), Seq("o_orderkey")),
      t.part.select("p_partkey", "p_brand"), Seq("p_partkey"))
    RelOps.topK(joined.groupBy("p_brand", "o_orderpriority")
        .agg(round(sum("l_extendedprice"), 2).as("revenue"), count(lit(1)).as("n")),
      10, Seq(col("revenue").desc, col("p_brand"), col("o_orderpriority"))).collect()
  }

  private def request(ctx: Ctx, kg: KnowledgeGraph, r: Req): DataFrame = {
    def idFrame = ctx.spark.createDataFrame(java.util.List.of(Row(r.id)),
      StructType(Seq(StructField("id", StringType))))
    r.kind match {
      case "client_target_pathways" => ClientApi.getTargetPathways(kg, idFrame)
      case "client_drug_targets" => ClientApi.getDrugTargets(kg, idFrame)
      case k => GraphQl.execute(kg, graphQl(k, r))
    }
  }

  private def buildKg(ctx: Ctx, dir: String, idx: String): KnowledgeGraph = {
    val kg = KnowledgeGraph(ctx.spark, dir, idx)
    // the four persisted edge relations build on first resolution
    kg.associatedTargets; kg.knownDrugs; kg.linkedTargets; kg.mechanismRows
    kg
  }

  val KgWarmupSeconds = 8.0

  def kgLookup(ctx: Ctx): Map[String, Any] = {
    val dir = s"${ctx.in}/data"
    val cycle = lines(s"${ctx.in}/cycle").head.trim.toInt
    val reqs = lines(s"${ctx.in}/requests.tsv").map { l =>
      val f = l.split("\t", -1)
      Req(f(0), f(1), f(2).toInt, f(3).split(",").filter(_.nonEmpty).toSeq)
    }
    val tables = Tables(ctx.spark, dir)
    val kg = buildKg(ctx, dir, s"${ctx.work}/kgidx")
    val idxBytes = Seq("assoc", "knowndrugs", "linkedtargets", "mechanisms")
      .map(n => ctx.du(s"${ctx.work}/kgidx-$n")._1).sum
    val factBytes = Seq("lineitem", "orders", "customer", "part", "supplier")
      .map(t => ctx.du(s"$dir/$t.parquet")._1).sum
    def serve(r: Req): Array[String] = ctx.tracer.span("op", r.kind) {
      if (r.kind == "star_join") ctx.tracer.span("ops.star_join", r.kind)(
        starJoin(tables, col("p_brand") === r.id).map(row => J(row.toSeq)))
      else {
        val df = ctx.tracer.span("api.construct", r.kind)(request(ctx, kg, r))
        ctx.tracer.span("api.collect", r.kind)(df.toJSON.collect())
      }
    }
    // warm-up: requests from the far end of the stream (never reached
    // by the timed loop) for KgWarmupSeconds, at least one of each kind,
    // so the JIT and the codegen cache are past their first requests
    val w0 = System.nanoTime()
    val kinds = scala.collection.mutable.Set(reqs.map(_.kind): _*)
    reqs.reverseIterator.takeWhile(_ => kinds.nonEmpty || secs(w0) < KgWarmupSeconds)
      .foreach { r => serve(r); kinds -= r.kind }
    val ops = ArrayBuffer.empty[Map[String, Any]]
    ctx.tracer.active = true
    val start = System.currentTimeMillis() / 1000.0
    val t0 = System.nanoTime()
    var i = 0
    // whole cycles of the kind schedule only, so every run sends the
    // same request mix whatever its length
    while (i < reqs.size && (i % cycle != 0 || secs(t0) < ctx.seconds)) {
      val r = reqs(i)
      measure(ctx, ops, Map("i" -> i, "kind" -> r.kind),
        (rows: Array[String]) => rows.mkString("[", ",", "]"))(serve(r))
      i += 1
    }
    val timedS = secs(t0)
    ctx.tracer.active = false
    Map("first_op_epoch_s" -> start, "timed_s" -> timedS, "ops" -> ops.toSeq,
      "stored_bytes" -> idxBytes, "input_bytes" -> factBytes)
  }

  // -------------------------------------------------------- stream_ingest

  /** Ingest cadence knobs: serving reads after each trigger, and the
    * compaction period in batches.
    */
  val ReadsPerTrigger = 4
  val CompactEvery = 2

  def streamIngest(ctx: Ctx): Map[String, Any] = {
    val spark = ctx.spark
    val batches = Option(new java.io.File(s"${ctx.in}/batches/docs").list())
      .getOrElse(Array.empty[String]).filter(_.endsWith(".parquet")).sorted
    require(batches.nonEmpty, "no stream batches generated")
    val planning = spark.read.parquet(s"${ctx.in}/planning/embeddings.parquet")
    val docSchema = spark.read.parquet(s"${ctx.in}/batches/docs/${batches(0)}").schema
    val embSchema = spark.read.parquet(s"${ctx.in}/batches/emb/${batches(0)}").schema

    final class Stream(val root: String) {
      val srcDocs = s"$root/src/docs"
      val srcEmb = s"$root/src/emb"
      val state = s"$root/state"
      val idx = s"$root/idx"
      val ckD = s"$root/ckpt/docs"
      val ckE = s"$root/ckpt/emb"
      Seq(srcDocs, srcEmb).foreach(d => Files.createDirectories(Paths.get(d)))
    }

    // set-up: the planning pass that freezes the SQ8 scales, for a
    // throwaway warm-up stream and for the timed one
    val roots = Seq(new Stream(s"${ctx.work}/warmup"), new Stream(s"${ctx.work}/stream"))
    roots.foreach(r => Similarity.initSq8Scales(planning, "embedding", r.idx))

    val triggers = ArrayBuffer.empty[Map[String, Any]]
    val reads = ArrayBuffer.empty[Map[String, Any]]
    val rnd = new scala.util.Random(ctx.seed)

    def runSink(kind: String)(start: => StreamingQuery): Seq[Map[String, Any]] =
      ctx.tracer.span("streaming.sink", kind) {
        val q = start
        q.awaitTermination()
        q.recentProgress.toSeq.map(pr => Map("batch" -> pr.batchId,
          "rows" -> pr.numInputRows,
          "durations" -> pr.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
      }

    def cycle(s: Stream, b: Int, ingested: ArrayBuffer[Long], record: Boolean): Unit = {
      val name = batches(b)
      Files.copy(Paths.get(s"${ctx.in}/batches/docs/$name"), Paths.get(s"${s.srcDocs}/$name"))
      Files.copy(Paths.get(s"${ctx.in}/batches/emb/$name"), Paths.get(s"${s.srcEmb}/$name"))
      val embIds = spark.read.parquet(s"${ctx.in}/batches/emb/$name")
        .select("vec_id").collect().map(_.getLong(0))
      def sink(kind: String)(start: => StreamingQuery): Unit = {
        val s0 = System.nanoTime()
        val prog = scala.util.Try(runSink(kind)(start))
        val ms = (System.nanoTime() - s0) / 1e6
        if (record) triggers += Map("kind" -> kind, "ms" -> ms, "ok" -> prog.isSuccess,
          "batch" -> b, "progress" -> prog.getOrElse(Seq.empty),
          "error" -> prog.failed.toOption.map(_.toString))
      }
      sink("neardup_sink") {
        StreamOps.neardupSink(spark.readStream.schema(docSchema)
            .option("maxFilesPerTrigger", 1).parquet(s.srcDocs),
          s.state, "doc_id", "text", s.ckD, Some(Trigger.AvailableNow()))
      }
      sink("sq8_codes_sink") {
        StreamOps.sq8CodesSink(spark.readStream.schema(embSchema)
            .option("maxFilesPerTrigger", 1).parquet(s.srcEmb),
          s.idx, "vec_id", "embedding", s.ckE, Some(Trigger.AvailableNow()))
      }
      ingested ++= embIds
      def read(kind: String, extra: Map[String, Any])(body: => Array[Row]): Unit =
        if (!record) body
        else measure(ctx, reads, Map("batch" -> b, "kind" -> kind) ++ extra, rowsJson)(
          ctx.tracer.span("op", kind)(ctx.tracer.span(s"operators.$kind", kind)(body)))
      (0 until ReadsPerTrigger).foreach { _ =>
        val q = ingested(rnd.nextInt(ingested.size))
        read("sq8_topk_indexed", Map("query" -> q))(
          Similarity.sq8TopKIndexed(spark, s.idx, "vec_id", q, k = 10)
            .select("vec_id", "qscore").collect())
      }
      read("pair_read", Map.empty)(spark.read.parquet(s"${s.state}/pairs")
        .select(least(col("id_a"), col("id_b")), greatest(col("id_a"), col("id_b")))
        .collect())
      read("code_count", Map.empty)(Array(Row(spark.read.parquet(s"${s.idx}/codes").count())))
      if ((b + 1) % CompactEvery == 0) ctx.tracer.span("streaming.compact", "compact") {
        StreamOps.compactIndex(spark, s"${s.idx}/codes", s.ckE)
        Seq("pairs", "shingles", "bands").foreach(r =>
          StreamOps.compactIndex(spark, s"${s.state}/$r", s.ckD))
      }
    }

    // warm-up: one full cycle on a throwaway stream
    cycle(roots(0), 0, ArrayBuffer.empty[Long], record = false)
    val s = roots.last
    val ingested = ArrayBuffer.empty[Long]
    ctx.tracer.active = true
    val start = System.currentTimeMillis() / 1000.0
    val t0 = System.nanoTime()
    var b = 0
    // whole compaction periods only, so the state measured at the end
    // has just been folded whatever the run length, and at least two,
    // so reads of compacted state are measured too
    while (b < batches.length &&
        (b % CompactEvery != 0 || b < 2 * CompactEvery || secs(t0) < ctx.seconds)) {
      cycle(s, b, ingested, record = true)
      b += 1
    }
    val timedS = secs(t0)
    ctx.tracer.active = false
    val inBytes = batches.take(b).map(n =>
      ctx.du(s"${ctx.in}/batches/docs/$n")._1 + ctx.du(s"${ctx.in}/batches/emb/$n")._1).sum
    val rowsIn = batches.take(b).map(n =>
      spark.read.parquet(s"${ctx.in}/batches/docs/$n").count() +
        spark.read.parquet(s"${ctx.in}/batches/emb/$n").count()).sum
    val stored = Seq(s.state, s.idx, s"${s.root}/ckpt").map(p => ctx.du(p)._1).sum
    Map("first_op_epoch_s" -> start, "timed_s" -> timedS, "ops" -> reads.toSeq,
      "triggers" -> triggers.toSeq, "rows_in" -> rowsIn, "batches" -> b,
      "stored_bytes" -> stored, "input_bytes" -> inBytes)
  }
}

package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stage-by-stage timing of the q30 PPJoin pipeline (scratch). */
object ProbeQ30 {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val dir = "/root/testdata/sf0.1"
    def tstage[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }

    (1 to 2).foreach { rep =>
      println(s"[probe] ---- rep $rep ----")
      val sh0 = tstage("artifact read plan") {
        // same path queries.Support.sharedShingles resolves
        val docs = graft.Tables(spark, dir).documents
        graft.operators.Dedup.ensureShingleSets(docs, "doc_id", "text", 3,
          s"${System.getProperty("java.io.tmpdir")}/graft_probe_shingles_q30")
      }
      val shAll = tstage("materialize shAll (count)") {
        val p = sh0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count(); p
      }
      val groups = shAll.groupBy(col("sh"))
        .agg(min(col("id")).as("rid"), count(lit(1)).as("gsize"))
      val members = tstage("members join (count)") {
        val m = shAll.select(col("id").as("mid"), col("sh"))
          .join(groups.select(col("sh"), col("rid")), Seq("sh"))
          .select(col("rid"), col("mid"))
        m.count(); m
      }
      val sh = tstage("materialize reps (count)") {
        val p = groups.select(col("rid").as("id"), col("sh"), col("gsize"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        p.count(); p
      }
      val exploded = sh.select(col("id"), size(col("sh")).as("nsh"), col("gsize"),
        explode(col("sh")).as("g"))
      val freq = exploded.groupBy("g").agg(sum(col("gsize")).as("df"))
      val threshold = 0.6
      val plen = (col("nsh") - ceil(lit(threshold) * col("nsh") - lit(1e-9)) + 1)
        .cast("int")
      val ranked = tstage("ranked prefixes (count)") {
        val r = exploded.join(freq, Seq("g"))
          .groupBy(col("id"))
          .agg(first(col("nsh")).as("nsh"),
            sort_array(collect_list(struct(col("df"), col("g")))).as("arr"))
          .select(col("id"), col("nsh"),
            posexplode(slice(col("arr"), lit(1), plen)))
          .select(col("id"), col("nsh"), col("pos"), col("col.g").as("g"))
        println(s"[probe]   ranked rows: ${r.count()}")
        r
      }
      val cands = tstage("candidate self-join (count)") {
        val alpha = ceil(lit(threshold / (1 + threshold)) *
          (col("l.nsh") + col("r.nsh")) - lit(1e-9))
        val c = ranked.as("l").join(ranked.as("r"),
            col("l.g") === col("r.g") && col("l.id") < col("r.id") &&
              col("r.nsh").cast("double") >= lit(threshold) * col("l.nsh") &&
              col("l.nsh").cast("double") >= lit(threshold) * col("r.nsh") &&
              least(col("l.nsh") - col("l.pos"), col("r.nsh") - col("r.pos"))
                .cast("double") >= alpha)
          .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
          .distinct()
        println(s"[probe]   candidates: ${c.count()}")
        c
      }
      val repPairs = tstage("verify pairs (count)") {
        val setsA = sh.select(col("id").as("id_a"), col("sh").as("sh_a"))
        val setsB = sh.select(col("id").as("id_b"), col("sh").as("sh_b"))
        val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
        val uni = (size(col("sh_a")) + size(col("sh_b"))).cast("double") - inter
        val rp = cands.join(setsA, "id_a").join(setsB, "id_b")
          .withColumn("jaccard", round(inter / uni, 6))
          .filter(col("jaccard") >= threshold)
          .select(col("id_a"), col("id_b"), col("jaccard"))
        println(s"[probe]   repPairs: ${rp.count()}")
        rp
      }
      tstage("expansion + orderBy (noop)") {
        val cross = repPairs
          .join(members.select(col("rid").as("id_a"), col("mid").as("ma")), "id_a")
          .join(members.select(col("rid").as("id_b"), col("mid").as("mb")), "id_b")
          .select(least(col("ma"), col("mb")).as("id_a"),
            greatest(col("ma"), col("mb")).as("id_b"), col("jaccard"))
        val intra = members.as("x").join(members.as("y"),
            col("x.rid") === col("y.rid") && col("x.mid") < col("y.mid"))
          .select(col("x.mid").as("id_a"), col("y.mid").as("id_b"),
            lit(1.0).as("jaccard"))
        cross.unionByName(intra).orderBy("id_a", "id_b")
          .write.format("noop").mode("overwrite").save()
      }
      tstage("full q30 via registry (noop)") {
        graft.SparkEntry.queries("q30_jaccard_pairs")(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      System.gc(); Thread.sleep(200)
    }
    spark.stop()
  }
}

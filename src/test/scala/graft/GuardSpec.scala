package graft

import java.nio.file.Files

import graft.operators.{Artifact, Similarity}

/** In-row guards ([[Artifact.guardError]]) surface through
  * [[Artifact.guarded]] as the bare payload, and only they do.
  */
class GuardSpec extends SparkSpec {
  import spark.implicits._

  test("a fired clip guard rethrows exactly its payload, no job-abort text") {
    val dir = Files.createTempDirectory("guard-spec").toString + "/idx"
    Similarity.buildSq8Index(
      Seq((1L, Array(1.0f, 0.5f)), (2L, Array(-0.5f, 1.0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", dir)
    val scale0 = Similarity.readSq8Scales(spark, dir)(0)
    val before = spark.read.parquet(s"$dir/codes").count()
    val e = intercept[IllegalArgumentException] {
      Similarity.appendSq8Index(spark, dir,
        Seq((3L, Array(4.0f, 0.0f))).toDF("vec_id", "embedding"), "vec_id", "embedding")
    }
    val want = ("appendSq8Index: batch max |x_0| = %.6g exceeds the frozen " +
      "scale %.6g — codes would clip; rebuild the index over the union instead")
      .formatLocal(java.util.Locale.US, 4.0, scale0)
    assert(e.getMessage == want)
    assert(!e.getMessage.contains("Job aborted"))
    assert(e.getCause != null, "the Spark failure stays attached as the cause")
    assert(spark.read.parquet(s"$dir/codes").count() == before, "nothing committed")
  }

  test("an unrelated failure whose message reads like a guard passes through unwrapped") {
    val boom = new IllegalStateException("replica re-delivers a stale offset")
    val e = intercept[IllegalStateException](Artifact.guarded[Unit](throw boom))
    assert(e eq boom)
  }
}

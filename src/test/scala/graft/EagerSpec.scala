package graft

import java.util.concurrent.atomic.AtomicBoolean
import graft.operators.Eager
import org.apache.spark.sql.functions._

/** The eager-materialization helpers the lifecycle builds on:
  * fail-stop parallel arms (a caller's `finally` never races a sibling
  * arm that is still running), scoped checkpoint release on the failure
  * path, and job descriptions that nest and restore.
  */
class EagerSpec extends SparkSpec {

  test("parallel joins every arm before it rethrows the first failure") {
    val siblingDone = new AtomicBoolean(false)
    val e = intercept[IllegalStateException] {
      Eager.parallel(
        () => throw new IllegalStateException("arm 1 fails at once"),
        () => { Thread.sleep(1500); siblingDone.set(true) },
        () => throw new IllegalArgumentException("arm 3 fails too"))
    }
    assert(siblingDone.get,
      "parallel threw while a sibling arm was still running")
    assert(e.getMessage == "arm 1 fails at once")
    assert(e.getSuppressed.toSeq.map(_.getMessage) == Seq("arm 3 fails too"))
  }

  test("parallel runs every arm when none fails") {
    val ran = Array.fill(3)(new AtomicBoolean(false))
    Eager.parallel(ran.toSeq.map(f => () => f.set(true)): _*)
    assert(ran.forall(_.get))
  }

  test("scoped releases its checkpoints when the body throws, keeps what it hands out") {
    val df = spark.range(100).select((col("id") * 2).as("x"))
    assertReleases("scoped, failing body", allowed = 0) {
      intercept[RuntimeException] {
        Eager.scoped { ck =>
          ck(df).count()
          ck(df.filter(col("x") > 10))
          throw new RuntimeException("boom")
        }
      }
    }
    var kept: org.apache.spark.sql.DataFrame = null
    assertReleases("scoped, kept result", allowed = 1) {
      kept = Eager.scoped { ck =>
        ck(df.filter(col("x") > 50))
        ck.keep(ck(df.filter(col("x") < 10)))
      }
    }
    assert(kept.count() == 5L)
    Eager.release(kept)
  }

  test("described nests job descriptions and restores the previous one") {
    val sc = spark.sparkContext
    sc.setJobDescription("outer")
    try {
      val inner = Eager.described(spark, "step")(
        Eager.described(spark, "sub")(sc.getLocalProperty("spark.job.description")))
      assert(inner == "outer: step: sub")
      assert(sc.getLocalProperty("spark.job.description") == "outer")
      intercept[RuntimeException](Eager.described(spark, "x")(throw new RuntimeException))
      assert(sc.getLocalProperty("spark.job.description") == "outer")
    } finally sc.setJobDescription(null)
  }
}

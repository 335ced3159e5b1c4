package graft.core

import graft.{Observe, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The fixpoint driver's contract: one job per state, and only the
  * returned state's checkpoint left behind. */
class FixpointSpec extends SparkSpec with Observe {
  import spark.implicits._

  private def persistent(ids: Set[Int]): Set[Int] =
    ids.intersect(spark.sparkContext.getPersistentRDDs.keySet.toSet)

  private def xs(df: DataFrame): Seq[Long] = df.as[Long].collect().toSeq.sorted

  test("rounds runs n + 1 jobs and leaves only the final state's RDD") {
    val init = (1L to 20L).toDF("x")
    val seen = Seq.newBuilder[Int]
    var out: DataFrame = null
    var jobs = 0
    val left = leftPersistent {
      jobs = observe {
        out = Fixpoint.rounds(init, 3) { (s, i) => seen += i; s.select((col("x") + i).as("x")) }
      }._2
    }
    assert(jobs === 4, "the checkpointed init and three rounds, one job each")
    assert(seen.result() === Seq(1, 2, 3))
    assert(left.size === 1, s"superseded states must be released: $left")
    assert(xs(out) === (7L to 26L))
    Checkpoints.release(out)
    assert(persistent(left).isEmpty)
  }

  test("rounds(…, 0) returns the checkpointed init") {
    var out: DataFrame = null
    val left = leftPersistent {
      out = Fixpoint.rounds((1L to 5L).toDF("x"), 0)((_, _) => fail("no round may run"))
    }
    assert(out.queryExecution.logical.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
    assert(left.size === 1)
    assert(xs(out) === (1L to 5L))
    Checkpoints.release(out)
  }

  test("converge stops on the first unchanged measure, one job per round") {
    // x ← max(x − 1, 0): the sum over 0..4 is 10, 6, 3, 1, 0, 0 — five
    // rounds, the fifth the first with an unchanged measure
    val init = (0L to 4L).toDF("x")
    var rounds = 0
    var out: DataFrame = null
    var jobs = 0
    val left = leftPersistent {
      jobs = observe {
        out = Fixpoint.converge(init, 10)(_.as[Long].collect().sum) { s =>
          rounds += 1
          s.select(greatest(col("x") - 1, lit(0L)).as("x"))
        }
      }._2
    }
    assert(rounds === 5)
    assert(jobs === rounds + 1, "the init's measure and one job per round")
    assert(left.size === 1, s"superseded states must be released: $left")
    assert(xs(out) === Seq.fill(5)(0L))
    Checkpoints.release(out)
  }

  test("converge throws after maxRounds when the measure keeps changing") {
    var e: IllegalStateException = null
    val left = leftPersistent {
      e = intercept[IllegalStateException] {
        Fixpoint.converge((1L to 3L).toDF("x"), 4)(_.as[Long].collect().sum) {
          _.select((col("x") + 1).as("x"))
        }
      }
    }
    assert(e.getMessage.contains("4 rounds"), e.getMessage)
    assert(left.isEmpty, "a failed loop releases its last state")
  }
}

package graft

import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The scoped cache owner: every cache a body takes is gone when the body
  * returns or throws, `release` drops exactly one cache early, `fill`
  * computes the cache before the body's first consumer runs, and an eager
  * checkpoint built from held frames outlives the scope. */
class MaterializeSpec extends AnyFunSuite {
  import TestSpark._

  private def cacheEmpty: Boolean = spark.sharedState.cacheManager.isEmpty

  test("a body that throws leaves no cache behind") {
    spark.catalog.clearCache()
    intercept[IllegalStateException] {
      Materialize.scoped { held =>
        held(spark.range(10).toDF("id"))
        held.fill(spark.range(20).toDF("id"))
        assert(!cacheEmpty)
        throw new IllegalStateException("query failed")
      }
    }
    assert(cacheEmpty)
  }

  test("release drops only its argument") {
    spark.catalog.clearCache()
    Materialize.scoped { held =>
      val a = held(spark.range(10).toDF("id"))
      val b = held(spark.range(20).toDF("id"))
      assert(a.storageLevel == StorageLevel.MEMORY_AND_DISK)
      held.release(a)
      assert(a.storageLevel == StorageLevel.NONE)
      assert(b.storageLevel == StorageLevel.MEMORY_AND_DISK)
    }
    assert(cacheEmpty)
  }

  test("a filled frame is computed before the body's first consumer runs") {
    spark.catalog.clearCache()
    val evals = spark.sparkContext.longAccumulator("materialize_spec_evals")
    val traced = udf { (x: Long) => evals.add(1); x * 2 }.asNondeterministic()
    val seen = Materialize.scoped { held =>
      val df = held.fill(spark.range(0, 1000, 1, 4).toDF("id")
        .select(traced(col("id")).as("x")))
      assert(evals.value == 1000, "fill must compute every row once")
      // two consumers launched together read the cache, not the pipeline
      val counts = operators.Relational.overlapped(Seq(0L, 1000L), 2) { lo =>
        df.filter(col("x") >= lo).count()
      }
      assert(evals.value == 1000, s"consumers recomputed the pipeline: ${evals.value}")
      counts
    }
    assert(seen == Seq(1000L, 500L))
    assert(cacheEmpty)
  }

  test("a localCheckpoint(true) result outlives the scope that built it") {
    spark.catalog.clearCache()
    val out = Materialize.scoped { held =>
      val a = held.fill(spark.range(100).toDF("id"))
      a.groupBy((col("id") % 3).as("k")).count().localCheckpoint(true)
    }
    assert(cacheEmpty)
    assert(out.collect().map(_.getLong(1)).sum == 100)
  }
}

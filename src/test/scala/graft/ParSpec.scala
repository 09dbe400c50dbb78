package graft

import graft.operators.Par
import org.apache.spark.{SparkException, TaskContext}

class ParSpec extends SparkSpec {

  test("sections return every result in argument order") {
    assert(Par.sections(() => 1, () => spark.range(10).count().toInt,
      () => 3) == Seq(1, 10, 3))
    // the per-section job tags live on the section threads only
    assert(spark.sparkContext.getJobTags().isEmpty)
  }

  test("a fast failure cancels its slow sibling; both errors surface") {
    val slowMs = 60000L
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Par.sections(
        () => spark.sparkContext.parallelize(1 to 4, 4).map { x =>
          // a minute unless the task is killed
          val end = System.currentTimeMillis() + slowMs
          while (System.currentTimeMillis() < end &&
              !TaskContext.get().isInterrupted()) Thread.sleep(20)
          x
        }.count(),
        () => { Thread.sleep(500); throw new IllegalStateException("fast boom") })
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000
    assert(elapsedMs < slowMs / 2, s"returned after $elapsedMs ms")
    assert(e.getMessage == "fast boom")
    val suppressed = e.getSuppressed.toSeq
    assert(suppressed.size == 1, suppressed)
    assert(suppressed.head.isInstanceOf[SparkException], suppressed)
    assert(suppressed.head.getMessage.contains("cancelled"), suppressed)
  }
}

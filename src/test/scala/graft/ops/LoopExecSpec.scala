package graft.ops

import graft.SparkSpec

class LoopExecSpec extends SparkSpec {

  test("small-state gate needs at least one measurement, and every one under the threshold") {
    val t = LoopExec.smallRows(spark)
    // no measurement proves nothing: the round keeps the AQE path
    assert(!LoopExec.isSmall(spark))
    assert(!LoopExec.isSmall(spark, Seq.empty[Option[Long]]: _*))
    assert(!LoopExec.isSmall(spark, None))
    assert(!LoopExec.isSmall(spark, Some(1L), None))
    assert(!LoopExec.isSmall(spark, Some(1L), Some(t + 1)))
    assert(LoopExec.isSmall(spark, Some(t)))
    assert(LoopExec.isSmall(spark, Some(0L), Some(t)))
  }
}

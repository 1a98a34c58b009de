package graft

import graft.operators.Lineage

/** `graft.plan.cuts` selects the plan-cut mechanism; every documented
  * mode cuts as described and an unknown one fails naming the value. */
class LineageSpec extends SparkSpec {

  private def withMode[T](mode: String)(body: => T): T = {
    val prior = spark.conf.getOption(Lineage.ModeKey)
    spark.conf.set(Lineage.ModeKey, mode)
    try body
    finally prior.fold(spark.conf.unset(Lineage.ModeKey))(
      spark.conf.set(Lineage.ModeKey, _))
  }

  test("plan cuts: checkpoint, persist and off cut as documented; an unknown mode fails naming it") {
    val df = spark.range(10).toDF("id")
    withMode("off") { assert(Lineage.cut(df) eq df) }
    withMode("persist") {
      val cut = Lineage.cut(df)
      assert(cut.storageLevel.useDisk && cut.storageLevel.useMemory)
      cut.unpersist()
    }
    withMode("checkpoint") {
      val cut = Lineage.cut(df)
      assert(!(cut eq df) && cut.count() == 10)
    }
    val ex = withMode("chekpoint") {
      intercept[IllegalArgumentException](Lineage.cut(df))
    }
    assert(ex.getMessage.contains("chekpoint") &&
      ex.getMessage.contains(Lineage.ModeKey), ex.getMessage)
  }
}

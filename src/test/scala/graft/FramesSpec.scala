package graft

import org.apache.spark.storage.StorageLevel

import graft.core.Frames

/** The build lifetime every persist and stage checkpoint rides on: a
  * build owns the frames handed to it and the RDDs checkpointed while it
  * runs, they answer any number of actions, and the next build frees
  * them before it runs — synchronously, so no test here waits.
  */
class FramesSpec extends SparkSuite {

  private def checkpointedIds =
    spark.sparkContext.getPersistentRDDs.filter(_._2.isCheckpointed).keySet.toSet

  test("owned frames stay cached through any number of actions; the next build unpersists them") {
    val df = Frames.owned(spark) {
      val df = spark.range(1000).toDF("id").persist(StorageLevel.MEMORY_AND_DISK)
      Frames.own(spark, df)
      df
    }
    assert(df.count() === 1000L)
    assert(df.count() === 1000L)
    assert(df.storageLevel !== StorageLevel.NONE)
    Frames.owned(spark)(())
    assert(df.storageLevel === StorageLevel.NONE)
    assert(df.count() === 1000L) // a freed persist recomputes
  }

  test("a build frees the checkpoints made while it ran, none made outside it") {
    val pre = spark.range(11).toDF("x").localCheckpoint(true)
    val before = checkpointedIds
    val cp = Frames.owned(spark)(spark.range(50).toDF("x").localCheckpoint(true))
    val mine = checkpointedIds -- before
    val post = spark.range(13).toDF("x").localCheckpoint(true)
    assert(mine.nonEmpty)
    assert(cp.count() === 50L && cp.count() === 50L)
    Frames.owned(spark)(())
    assert(mine.intersect(checkpointedIds).isEmpty)
    assert(pre.count() === 11L)
    assert(post.count() === 13L)
  }

  test("a frame handed over between builds goes to the last build opened") {
    Frames.owned(spark)(())
    val df = spark.range(300).toDF("id").persist(StorageLevel.MEMORY_AND_DISK)
    df.count()
    Frames.own(spark, df)
    assert(df.storageLevel !== StorageLevel.NONE)
    Frames.owned(spark)(())
    assert(df.storageLevel === StorageLevel.NONE)
  }

  test("an owned call inside a running build joins it instead of freeing it") {
    val before = checkpointedIds
    val (outer, inner) = Frames.owned(spark) {
      val outer = spark.range(20).toDF("x").localCheckpoint(true)
      val inner = Frames.owned(spark)(spark.range(30).toDF("x").localCheckpoint(true))
      assert(outer.count() === 20L) // the nested call freed nothing
      (outer, inner)
    }
    val mine = checkpointedIds -- before
    assert(mine.size >= 2)
    assert(outer.count() === 20L && inner.count() === 30L)
    Frames.owned(spark)(())
    assert(mine.intersect(checkpointedIds).isEmpty)
  }
}

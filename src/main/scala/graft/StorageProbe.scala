package graft

/** Dev probe (r18): run the declared slate in bench order and record the
  * BlockManager storage high-water after every query — the direct
  * measurement for the checkpoint-block ratchet VERDICT r17 item 2 calls
  * out (localCheckpoint blocks are NOT released by `clearCache()`; they
  * wait for the ContextCleaner to notice the dead RDD after a driver GC).
  * Prints one line per N queries: persistent-RDD count, storage memory
  * used, disk used. Not part of the bench contract.
  * Usage: runMain graft.StorageProbe [sfDir] [stride]
  */
object StorageProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val stride = if (args.length > 1) args(1).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus)
    spark.sparkContext.setLogLevel("ERROR")
    var i = 0
    var peakMem = 0L
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[probe] $name failed: ${e.toString.take(120)}")
      }
      spark.catalog.clearCache()
      i += 1
      val rdds = spark.sparkContext.getPersistentRDDs
      val infos = spark.sparkContext.getRDDStorageInfo
      val mem = infos.map(_.memSize).sum
      val disk = infos.map(_.diskSize).sum
      peakMem = math.max(peakMem, mem)
      if (i % stride == 0 || i == SparkEntry.queries.size)
        println(f"[probe] q=$i%3d after=$name%-28s rdds=${rdds.size}%4d " +
          f"mem=${mem / 1048576.0}%9.1f MB disk=${disk / 1048576.0}%9.1f MB " +
          f"peakMem=${peakMem / 1048576.0}%9.1f MB")
    }
    spark.stop()
  }
}

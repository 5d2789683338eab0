package loadbench

import java.nio.file.Paths

/** Class-loading training run: every workload once, briefly, in one JVM.
  * build.py runs it with -XX:ArchiveClassesAtExit to write the class-data
  * archive that later runs start from, so JVM and Spark start-up cost
  * less of each run. Its results are discarded.
  *
  *   java ... loadbench.Train <work dir>
  */
object Train {
  def main(argv: Array[String]): Unit = {
    val base = Main.Args(Main.Workloads.head, 0L, 0, trace = false, Paths.get(argv(0)).toAbsolutePath)
    val spark = Main.session(base)
    Main.Workloads.foreach { w =>
      val ctx = Main.context(base.copy(workload = w), spark)
      try Main.runWorkload(ctx) finally Main.deleteTree(ctx.work)
    }
    spark.stop()
    System.exit(0)
  }
}

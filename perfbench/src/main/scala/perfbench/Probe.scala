package perfbench

/** Times gate queries the way the frozen `graft.Bench` does (`count()`)
  * and materialized through the `noop` sink, and prints the library
  * operators the materialized run's plans hold (what the plan guard
  * checks): the comparison behind the README's `count()` table.
  * Usage: Probe <sf dir> [query id ...]   (all queries when none is given) */
object Probe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val only = args.drop(1).toSet
    val spark = Main.session(Runtime.getRuntime.availableProcessors())
    val rec = new Recorder(spark)
    val ls = new Listeners(rec)
    ls.register()
    for ((name, fn) <- Gate.all if only.isEmpty || only(Gate.id(name))) {
      val (_, countS) = Recorder.time(fn(spark, dir).count())
      spark.catalog.clearCache()
      val ((r, plans), matS) = Recorder.time(ls.capturePlans(Gate.materialize(fn(spark, dir))))
      spark.catalog.clearCache()
      println(f"PROBE $name%-28s count_s=$countS%.3f materialized_s=$matS%.3f " +
        s"rows=${r.rows} fingerprint=${r.hash} operators=${Gate.operators(plans).mkString(",")}")
    }
    spark.stop()
  }
}

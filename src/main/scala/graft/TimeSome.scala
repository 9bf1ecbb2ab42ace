package graft
import scala.util.control.NonFatal
object TimeSome {
  val usage = "usage: TimeSome [--conf k=v | --conf=k=v]... key..."

  /** Splits the arguments into session confs and query keys. A conf is
    * `--conf=k=v` or `--conf k=v`; a pair without `=` or with an empty
    * key, or a trailing bare `--conf`, throws IllegalArgumentException
    * carrying the usage line. */
  def parseArgs(args: Seq[String]): (Seq[(String, String)], Seq[String]) = {
    def pair(kv: String): (String, String) = kv.split("=", 2) match {
      case Array(k, v) if k.nonEmpty => (k, v)
      case _ => throw new IllegalArgumentException(
        s"malformed --conf '$kv' (expected k=v); $usage")
    }
    val confs = Seq.newBuilder[(String, String)]
    val names = Seq.newBuilder[String]
    var rest = args
    while (rest.nonEmpty) {
      rest.head match {
        case "--conf" =>
          if (rest.tail.isEmpty)
            throw new IllegalArgumentException(s"--conf without k=v; $usage")
          confs += pair(rest(1)); rest = rest.drop(2)
        case a if a.startsWith("--conf=") =>
          confs += pair(a.stripPrefix("--conf=")); rest = rest.tail
        case a if a.startsWith("--") =>
          throw new IllegalArgumentException(s"unknown option '$a'; $usage")
        case name =>
          names += name; rest = rest.tail
      }
    }
    (confs.result(), names.result())
  }

  def main(args: Array[String]): Unit = {
    val (confs, names) =
      try parseArgs(args.toSeq)
      catch { case e: IllegalArgumentException =>
        System.err.println(e.getMessage); sys.exit(2) }
    val sfDir = "/root/testdata/sf0.1"
    val spark = SparkEntry.localBuilder("local[32]", 32).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // --conf k=v args apply session confs before any query runs (A/B tool)
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark.range(1000).selectExpr("sum(id)").collect()
    try SparkEntry.queries("agg_group_q1")(spark, sfDir).write.format("noop").mode("overwrite").save() catch { case NonFatal(_) => }
    for (name <- names; _ <- 1 to 2) {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"TIMED $name ${(System.nanoTime()-t0)/1e9}%.3f s")
    }
    spark.stop()
  }
}

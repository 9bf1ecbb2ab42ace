package graft

import org.scalatest.funsuite.AnyFunSuite

/** TimeSome's argument parser: both `--conf` spellings, and a usage
  * error (not a MatchError) on a malformed pair. */
class TimeSomeSpec extends AnyFunSuite {

  test("--conf=k=v and --conf k=v both parse; the rest are query keys") {
    val (confs, names) = TimeSome.parseArgs(Seq(
      "--conf=spark.a=1", "q1", "--conf", "spark.b=x=y", "q2"))
    assert(confs === Seq("spark.a" -> "1", "spark.b" -> "x=y"))
    assert(names === Seq("q1", "q2"))
  }

  test("an empty value is a valid pair") {
    assert(TimeSome.parseArgs(Seq("--conf", "k=")) === (Seq("k" -> ""), Seq()))
  }

  test("malformed pairs fail with the usage message") {
    for (bad <- Seq(Seq("--conf", "novalue"), Seq("--conf=novalue"),
        Seq("--conf", "=v"), Seq("q1", "--conf"), Seq("--confx=1"))) {
      val e = intercept[IllegalArgumentException](TimeSome.parseArgs(bad))
      assert(e.getMessage.contains(TimeSome.usage), s"$bad: ${e.getMessage}")
    }
  }
}

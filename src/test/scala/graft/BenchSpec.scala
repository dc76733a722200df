package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("the c<N> label comes from the resolved master, not SPARK_GRAFT_CPUS") {
    assert(Bench.coreCount("local[8]") == "8")
    assert(Bench.coreCount("local[16, 3]") == "16")
    assert(Bench.coreCount("local[*]") == Runtime.getRuntime.availableProcessors.toString)
    assert(Bench.coreCount("spark://h:7077") == sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
  }

  test("a previous run records its core count; one written before the field has none") {
    val f = Files.createTempFile("bench_out", ".json")
    Files.writeString(f, """{"metric":"total","value":3.0,"unit":"sec","protocol":"p","cpus":8,""" +
      """"loadavg":{"start":1.5,"end":2.0},"queries":{"q1":1.0,"q2":2.0},"sf":"x"}""")
    assert(Bench.parsePrev(f.toString) ==
      Some((Map("q1" -> 1.0, "q2" -> 2.0), 1.5, 2.0, Some("8"))))
    Files.writeString(f, """{"loadavg":{"start":1.0,"end":1.0},"queries":{"q1":1.0}}""")
    assert(Bench.parsePrev(f.toString).map(_._4) == Some(None))
    Files.delete(f)
    assert(Bench.parsePrev(f.toString).isEmpty)
  }
}

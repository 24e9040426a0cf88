package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** `Bench`'s stdout line must fit a 2,000-char output tail with room
  * for the runner's epilogue, and parse as strict JSON. */
class BenchLineSpec extends AnyFunSuite {

  test("the compact line for every benched query at 9,999 ms plus 3 errors is under 1,900 chars and parses") {
    val names = Bench.benched.keys.toSeq.sorted
    assert(names.size >= 150, names.size)
    val results = names.map(_ -> 9.999).toMap
    val errors = Seq("q901_failing_one", "q902_failing_two", "q903_failing_three")
    val line = Bench.compactLine(results.values.sum, (12.345, 23.456), (117.1, 116.1),
      results, errors, "/data/testdata/sf0.1")
    info(s"${line.length} chars")
    assert(line.length < 1900, s"${line.length} chars")

    val json = new ObjectMapper()
      .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS).readTree(line)
    val ms = json.get("queries_ms")
    assert(ms.size == names.map(_.takeWhile(_ != '_')).distinct.size)
    assert(ms.elements.asScala.forall(v => v.isIntegralNumber && v.asLong == 9999L))
    assert(json.get("errors").elements.asScala.map(_.asText).toSeq == Seq("q901", "q902", "q903"))
    assert(math.abs(json.get("value").asDouble - 9.999 * names.size) < 1e-3)
    assert(json.get("sf").asText == "/data/testdata/sf0.1")
  }
}

package graft

import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's snapshot read, without a Spark session. */
class BenchSpec extends AnyFunSuite {

  test("law: snapshotOf's tree read equals the replaced regex read of BENCH.json, compact and pretty") {
    // the replaced form, inlined: the first "queries" object located
    // with a whitespace-tolerant regex, its pairs read up to the first '}'
    def regexSnapshot(txt: String): Map[String, Double] =
      "\"queries\"\\s*:\\s*\\{".r.findFirstMatchIn(txt) match {
        case None => Map.empty
        case Some(m) =>
          "\"([^\"]+)\"\\s*:\\s*([-0-9.eE]+)".r
            .findAllMatchIn(txt.substring(m.end).takeWhile(_ != '}'))
            .map(g => g.group(1) -> g.group(2).toDouble).toMap
      }
    val committed = Files.readString(Paths.get("BENCH.json"))
    val mapper = new ObjectMapper()
    val pretty = mapper.writerWithDefaultPrettyPrinter
      .writeValueAsString(mapper.readTree(committed))
    assert(pretty.linesIterator.size > 100) // really re-laid out
    val snap = Bench.snapshotOf(committed)
    assert(snap.size > 200)
    assert(snap === regexSnapshot(committed))
    assert(Bench.snapshotOf(pretty) === regexSnapshot(pretty))
    assert(Bench.snapshotOf(pretty) === snap)
    assert(Bench.snapshotOf("""{"metric":"total"}""").isEmpty)
  }
}

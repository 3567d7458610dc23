package graft

import org.scalatest.funsuite.AnyFunSuite

/** The board's per-query lines: integer ms, every line valid JSON under
  * 4 KB, every query on exactly one line. */
class BenchLinesSpec extends AnyFunSuite {

  test("per-query lines split under 4 KB and keep every query once") {
    val perQuery = (1 to 314).map(i => s"query_with_a_longish_name_$i" -> (i * 37L - 1))
    val lines = Bench.queryLines(perQuery)
    assert(lines.size > 1)
    assert(lines.forall(_.getBytes("UTF-8").length < 4096), lines.map(_.length))
    val Entry = "\"([^\"]+)\":(-?[0-9]+)".r
    val parsed = lines.zipWithIndex.flatMap { case (l, i) =>
      assert(l.startsWith(s"""{"metric":"queries_part${i + 1}","unit":"ms","queries":{"""))
      assert(l.endsWith("}}"))
      val body = l.substring(l.indexOf("\"queries\":{") + 11, l.length - 2)
      Entry.findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toLong).toSeq
    }
    assert(parsed == perQuery)
  }

  test("no queries, no lines") {
    assert(Bench.queryLines(Nil).isEmpty)
  }
}

package graft

import scala.jdk.CollectionConverters._

/** Smoke: the driver contract itself — entry returns rows, every
  * declared query runs at sf0.001, and every oracle key has a query.
  */
class EntrySpec extends SparkSpec {

  test("entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle without query: $extra")
  }

  // VERDICT r9 item 9: README's generated query index is the one-hop
  // operator -> query -> file map for new consumers; regenerate with
  // scripts/gen_query_index.py whenever a query pack gains an entry.
  test("README query index covers every SparkEntry.queries key") {
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")))
    val missing = SparkEntry.queries.keySet.filterNot(k => readme.contains(s"| $k |"))
    assert(missing.isEmpty,
      s"queries missing from README.md Query index (run " +
        s"scripts/gen_query_index.py): ${missing.toSeq.sorted.mkString(", ")}")
    // each row's `queries/<file>:<line>` is the first `"key" ->` line of
    // that file: the query's definition, which precedes its oracle row
    val row = """\| (q\w+) \| `queries/(\w+\.scala):(\d+)` \|""".r
    val rows = readme.linesIterator.flatMap(row.findPrefixMatchOf(_)).toSeq
    assert(rows.size === SparkEntry.queries.size)
    val lines = rows.map(_.group(2)).distinct.map(f => f -> java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(s"src/main/scala/graft/queries/$f")).asScala).toMap
    val drifted = rows.flatMap { m =>
      val (key, file, at) = (m.group(1), m.group(2), m.group(3).toInt)
      val defined = lines(file).indexWhere(_.trim.startsWith(s""""$key" ->""")) + 1
      if (defined == at) None else Some(s"$key: index says $file:$at, defined at $defined")
    }
    assert(drifted.isEmpty, "README.md Query index has drifted (run " +
      "scripts/gen_query_index.py):\n" + drifted.mkString("\n"))
  }

  test("every query executes at sf0.001") {
    // toRdd.count() forces EVERY output column: a plain count() lets
    // Catalyst prune projections, which would hide expressions that
    // throw (or crawl — see NOTES_r4 on q75/q88) on real data
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, sf001).queryExecution.toRdd.count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
    GraftCache.releaseAll()
  }
}

package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry audit: a shadowed query key (the merged
  * `SparkEntry.queries` keeps the LAST binding, so a collision would
  * hide an operator with no error anywhere), a lossy merge, or a
  * SURVEY §2 row drifting out of sync with `SparkEntry.queries` fails
  * `sbt test`. No Spark session needed — pure registry/inventory
  * introspection. */
class KeyCheckSpec extends AnyFunSuite {

  test("no module shadows another's query key and the merge is lossless") {
    val all = SparkEntry.modules.flatMap { case (m, (q, _)) => q.keys.map(_ -> m) }
    val dups = all.groupBy(_._1).filter(_._2.size > 1)
    assert(dups.isEmpty, s"shadowed query keys: ${dups.keys.toSeq.sorted}")
    assert(all.size == SparkEntry.queries.size,
      s"merge lost keys: ${all.size} declared vs ${SparkEntry.queries.size} merged")
  }

  test("SURVEY.md §2 inventory and the query registry are mechanically equal") {
    val f = new java.io.File("SURVEY.md")
    assert(f.exists(), s"SURVEY.md not found at ${f.getAbsolutePath}")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    val lines = try src.getLines().toVector finally src.close()
    val start = lines.indexWhere(_.startsWith("## §2 "))
    assert(start >= 0, "SURVEY.md has no '## §2 ' section")
    val end0 = lines.indexWhere(l => l.startsWith("## §") && !l.startsWith("## §2 "), start + 1)
    val end = if (end0 < 0) lines.size else end0
    val keyRe = "`([^`]+)`".r
    val surveyKeys = lines.slice(start, end).flatMap { l =>
      val cells = l.split("\\|", -1).map(_.trim)
      // | id | `key` ... | semantics | check | → 6 raw cells with the
      // leading/trailing empties; [api] rows are driver APIs with no
      // queries entry
      if (cells.length >= 5 && cells(2).contains("`") && !cells(4).startsWith("[api]"))
        keyRe.findFirstMatchIn(cells(2)).map(_.group(1))
      else None
    }.toSet
    val registry = SparkEntry.queries.keySet
    val onlySurvey = (surveyKeys -- registry).toSeq.sorted
    val onlyRegistry = (registry -- surveyKeys).toSeq.sorted
    assert(onlySurvey.isEmpty && onlyRegistry.isEmpty,
      s"SURVEY-only keys: $onlySurvey; registry-only keys: $onlyRegistry")
  }
}

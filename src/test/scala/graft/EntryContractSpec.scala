package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver-contract invariants of [[SparkEntry]]: every oracle belongs
  * to a registered query, and every registered query is either oracled or
  * carries a declared rows-only manifest entry naming its twin/bound test
  * (VERDICT r6 task 8 — `no_oracle` in the correctness artifact must be
  * distinguishable from not-implemented). */
class EntryContractSpec extends AnyFunSuite {

  test("every oracleSql key is a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
  }

  test("rowsOnly manifest covers exactly the queries without an oracle") {
    val expected = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    val declared = SparkEntry.rowsOnly.keySet
    assert(declared == expected,
      s"undeclared rows-only: ${expected -- declared}; stale manifest entries: ${declared -- expected}")
  }

  test("rowsOnly reasons are substantive (name a twin or a bound test)")  {
    SparkEntry.rowsOnly.foreach { case (k, reason) =>
      assert(reason.length > 20, s"$k: reason too thin: '$reason'")
    }
  }

  test("every artifact path in oracle SQL is producible by a path helper " +
    "(writer and oracle can never point at different locations)") {
    // r10 ADVICE: a raw '/tmp/graft-…' literal in oracle SQL silently
    // desynchronizes from the Spark writer when a path helper changes.
    // Every artifact reference must round-trip through Frozen.path, the
    // one builder the writers use — undeclared families or stale formats
    // fail here.
    import graft.operators.Frozen
    val sf = "/root/testdata/sf0.01"
    val Pat = "(/tmp/graft-[A-Za-z0-9-]+/sf[0-9.]+)".r
    val badSql = SparkEntry.oracleSql.toSeq.flatMap { case (name, sql) =>
      Pat.findAllMatchIn(sql).map(_.group(1)).toSeq.distinct.flatMap { path =>
        val fam = path.stripPrefix("/tmp/graft-").takeWhile(_ != '/')
        scala.util.Try(Frozen.path(fam, sf)).toOption match {
          case Some(expected) if expected == path => None
          case Some(expected) => Some(s"$name: $path != Frozen.path's $expected")
          case None => Some(s"$name: $path names no family Frozen declares")
        }
      }
    }
    // The writer side: no program source builds an artifact path or
    // freezes a frame anywhere but Frozen (comments count too — a stale
    // literal in a doc is how a second builder starts).
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val main = Paths.get("src/main")
    val owner = main.resolve("scala/graft/operators/Frozen.scala")
    val files = {
      val walk = Files.walk(main)
      try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(files.contains(owner) && files.size > 20, s"walk under $main found ${files.size} files")
    val Stray = "/tmp/graft-|def freeze".r
    val badSrc = files.filterNot(_ == owner).flatMap { p =>
      Files.readString(p).linesIterator.zipWithIndex.collect {
        case (line, i) if Stray.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(badSql.isEmpty && badSrc.isEmpty, "artifact-path lint failures:\n" +
      (badSql ++ badSrc.map("outside Frozen: " + _)).mkString("\n"))
  }

  test("no oracle SQL uses a NOT IN subquery (NULL-semantics footgun)") {
    // `x NOT IN (SELECT ...)` yields NULL (not true) whenever the subquery
    // produces a NULL, silently dropping rows — the dq_audit r9 lesson.
    // Anti-joins in oracle SQL must be spelled NOT EXISTS, whose semantics
    // match Spark's left_anti join for nullable columns.
    val offenders = SparkEntry.oracleSql.collect {
      case (name, sql) if sql.toUpperCase.replaceAll("\\s+", " ")
        .contains("NOT IN (SELECT") => name
    }
    assert(offenders.isEmpty, s"oracle SQL with NOT IN subqueries: $offenders")
  }
}

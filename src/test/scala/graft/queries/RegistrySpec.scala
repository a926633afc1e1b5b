package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry
import graft.queries.Oracle.{Reason, Sql}

/** The registry is the one list of driver queries: these pin what the
  * driver maps derived from it rely on. */
class RegistrySpec extends AnyFunSuite {
  private val all = Registry.all
  private val names = all.map(_.name)

  test("query names are unique") {
    assert(names.distinct.size == names.size, names.diff(names.distinct))
  }

  test("each name's leading qNN token is unique (the bench stdout map's key)") {
    val tokens = names.map(n => "q" + n.drop(1).takeWhile(_.isDigit))
    assert(names.forall(n => n.matches("q[0-9]+_.+")), names)
    assert(tokens.distinct.size == tokens.size, tokens.diff(tokens.distinct))
  }

  test("every entry has oracle SQL or a written reason") {
    all.foreach { q =>
      q.oracle match {
        case Sql(sql, _) => assert(sql.trim.nonEmpty, q.name)
        case Reason(why) => assert(why.trim.nonEmpty, q.name)
      }
    }
  }

  test("q111 is the only query without a SQL oracle") {
    assert(all.collect { case Query(n, _, Reason(_)) => n }.toSet == Set("q111_media_pipeline"))
  }

  test("sampled SQL rides only on q22, q87 and q113; a shared key carries one SQL") {
    val carriers = all.collect { case Query(n, _, Sql(_, s)) if s.nonEmpty => n }
    assert(carriers.toSet ==
      Set("q22_jaccard_topk", "q87_cross_corpus_dedup", "q113_collapsed_jaccard"))
    val pairs = all.flatMap {
      case Query(_, _, Sql(_, s)) => s.toSeq
      case _ => Nil
    }
    pairs.groupBy(_._1).foreach { case (key, sqls) =>
      assert(sqls.map(_._2).distinct.size == 1, s"$key carries different SQL on different queries")
    }
  }

  test("the driver maps are the registry's") {
    assert(SparkEntry.queries.keySet == names.toSet)
    assert(SparkEntry.oracleSql.size == 124)
    assert(SparkEntry.sampledOracleSql.keySet ==
      Set("q22_reported_values", "q22_boundary_exact", "q22_boundary_screen", "q87_sampled"))
  }
}

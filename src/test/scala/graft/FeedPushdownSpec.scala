package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.MetricsFeedSource.{kindOf, nodeOf, valueOf}

/** Differential gate for the metrics feed's pushdown: each predicate of a
  * grid — strict and non-strict id bounds with the literal on either side
  * (Long.MaxValue and Long.MinValue included), `id = v`, and `id % m = r`
  * with valid, out-of-range and negative r — alone and under every face
  * that folds into the same scan (limit, ORDER BY id LIMIT, offset,
  * TABLESAMPLE, the pushed GROUP BY kind aggregate, columnar and
  * clusterByKind reads), must return what the same filter gives over the
  * feed's closed form in plain Scala. Whether a predicate folds into the
  * scan or stays a Spark Filter, the rows must not change. */
class FeedPushdownSpec extends AnyFunSuite {
  lazy val spark = GraftSession.local()
  private val rows = 1000L
  private type FeedRow = (Long, String, String, Long)
  private val closedForm: Seq[FeedRow] =
    (0L until rows).map(i => (i, nodeOf(i), kindOf(i), valueOf(i)))

  private def feed(opts: (String, String)*): DataFrame =
    opts.foldLeft(spark.read.format("graft.sources.MetricsFeedSource")
      .option("rows", rows.toString).option("partitions", "7")) {
      case (r, (k, v)) => r.option(k, v)
    }.load()

  /** (label, Spark predicate, the same predicate in Scala) */
  private val grid: Seq[(String, Column, Long => Boolean)] = {
    val id = col("id")
    val ops = Seq[(String, (Column, Column) => Column, (Long, Long) => Boolean)](
      (">=", _ >= _, _ >= _), (">", _ > _, _ > _),
      ("<", _ < _, _ < _), ("<=", _ <= _, _ <= _))
    val bounds = for {
      v <- Seq(0L, 500L, 999L, Long.MaxValue, Long.MinValue)
      (op, sp, sc) <- ops
      leaf <- Seq(
        (s"id $op $v", sp(id, lit(v)), (i: Long) => sc(i, v)),
        (s"$v $op id", sp(lit(v), id), (i: Long) => sc(v, i)))
    } yield leaf
    val equal = Seq(500L, 1000L, Long.MaxValue, Long.MinValue)
      .map(v => (s"id = $v", id === v, (i: Long) => i == v))
    val residues = Seq((7L, 3L), (1L, 0L), (7L, 9L), (7L, -2L), (-3L, 1L))
      .map { case (m, r) => (s"id % $m = $r", id % m === r, (i: Long) => i % m == r) }
    val composed = Seq(
      ("id >= 100 AND id % 7 = 3", id >= 100L && id % 7L === 3L,
        (i: Long) => i >= 100 && i % 7 == 3),
      (s"id > ${Long.MaxValue} AND id % 7 = 3", id > Long.MaxValue && id % 7L === 3L,
        (_: Long) => false),
      ("id = 500 AND id % 4 = 0", id === 500L && id % 4L === 0L,
        (i: Long) => i == 500))
    bounds ++ equal ++ residues ++ composed
  }

  private def want(f: Long => Boolean): Seq[FeedRow] = closedForm.filter(r => f(r._1))
  private def collectRows(df: DataFrame): Seq[FeedRow] =
    df.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
      .sortBy(_._1).toSeq
  private def ids(df: DataFrame): Seq[Long] =
    df.select(col("id")).collect().map(_.getLong(0)).toSeq

  /** Runs `check` on every grid predicate, naming the failing one. */
  private def onGrid(check: (Column, Long => Boolean) => Unit): Unit =
    grid.foreach { case (label, p, f) => withClue(s"[$label] ")(check(p, f)) }

  test("feed pushdown: filtered scans equal the closed form") {
    onGrid((p, f) => assert(collectRows(feed().filter(p)) == want(f)))
  }

  test("feed pushdown: LIMIT returns min(n, matches) distinct matching rows") {
    onGrid { (p, f) =>
      val matching = want(f).map(_._1)
      val got = ids(feed().filter(p).limit(10))
      assert(got.size == math.min(10, matching.size), got)
      assert(got.distinct.size == got.size && got.toSet.subsetOf(matching.toSet), got)
    }
  }

  test("feed pushdown: ORDER BY id LIMIT returns the first n matches") {
    onGrid((p, f) =>
      assert(ids(feed().filter(p).orderBy(col("id")).limit(10)) == want(f).map(_._1).take(10)))
  }

  test("feed pushdown: OFFSET skips exactly n matching rows") {
    onGrid { (p, f) =>
      val matching = want(f).map(_._1)
      val got = ids(feed().filter(p).offset(20))
      assert(got.size == math.max(0, matching.size - 20), got)
      assert(got.distinct.size == got.size && got.toSet.subsetOf(matching.toSet), got)
    }
  }

  test("feed pushdown: a filter above TABLESAMPLE reads the sampled range slice") {
    // the source defines a sample of fraction f as the first f of the
    // planned range: here ids [0, 500)
    onGrid((p, f) =>
      assert(collectRows(feed().sample(0.5, 7L).filter(p)) == want(i => i < rows / 2 && f(i))))
  }

  test("feed pushdown: GROUP BY kind aggregates equal the closed form") {
    onGrid { (p, f) =>
      val got = feed().filter(p).groupBy(col("kind"))
        .agg(count(lit(1)), sum(col("value")), min(col("value")), max(col("value")))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .sortBy(_._1).toSeq
      val exp = want(f).groupBy(_._3).toSeq.sortBy(_._1).map { case (k, rs) =>
        val vs = rs.map(_._4)
        (k, vs.size.toLong, vs.sum, vs.min, vs.max)
      }
      assert(got == exp)
    }
  }

  test("feed pushdown: columnar and clusterByKind reads equal the closed form") {
    for (opt <- Seq("columnar", "clusterByKind")) withClue(s"$opt: ") {
      onGrid((p, f) => assert(collectRows(feed(opt -> "true").filter(p)) == want(f)))
    }
  }
}

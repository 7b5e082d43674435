package graft.plans

import graft.operators.{Joins, Similarity, TfIdf}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** SQL table-valued surfaces for the whole-operator transforms that
  * have no scalar-expression form — as-of join, range join, BM25 —
  * so the pure-SQL story (q35/q91) covers the temporal and retrieval
  * families too:
  *
  * {{{
  *   SELECT * FROM graft_asof_join('trades', 'quotes', 'sym', 'ts', 'price')
  *   SELECT * FROM graft_asof_join('trades', 'quotes', 'sym', 'ts', 'price', 300)
  *   SELECT * FROM graft_range_join('points', 'value', 'bands', 'lo', 'hi', 50.0)
  *   SELECT * FROM graft_bm25('docs', 'doc_id', 'text', 'spark sql', 1.2, 0.75)
  *   SELECT * FROM graft_semantic_dedup('vecs', 'cents', 'vec_id', 'embedding', 0.45)
  *   SELECT * FROM graft_semantic_dedup('vecs', 'vec_id', 'embedding', 0.45)
  * }}}
  *
  * The 4-argument semantic-dedup form trains its own √N centroids
  * ([[Similarity.trainCentroids]]) — the safe-regime default for
  * SQL-only callers without a prebuilt index.
  *
  * Registered in the session's TableFunctionRegistry — the same
  * mechanism behind the built-in `range()` TVF. The builder runs at
  * ANALYSIS time on the driver: it resolves the named temp views,
  * applies the operator, and splices the operator's logical plan into
  * the query tree, so Catalyst optimizes the whole statement as one
  * plan (filters on the TVF output push into the operator's dataflow;
  * EXPLAIN shows the fused plan, not a black box). Arguments must be
  * literals — they parameterize plan construction, not row evaluation.
  *
  * View names pass through `SparkSession.active.table`, so global temp
  * views and catalog tables work with their qualified names.
  */
object TableFunctions {

  val functions: Seq[(String, Seq[Expression] => LogicalPlan)] = Seq(
    ("graft_asof_join", asofJoin _),
    ("graft_range_join", rangeJoin _),
    ("graft_bm25", bm25 _),
    ("graft_semantic_dedup", semanticDedup _))

  private def table(view: String): DataFrame = SparkSession.active.table(view)

  private def strArg(fn: String, args: Seq[Expression], pos: Int): String = {
    val e = args(pos)
    require(e.foldable, s"$fn: argument ${pos + 1} must be a literal, got $e")
    val v = e.eval()
    require(v != null, s"$fn: argument ${pos + 1} must not be null")
    v.toString
  }

  private def numArg(fn: String, args: Seq[Expression], pos: Int): Double = {
    val e = args(pos)
    require(e.foldable, s"$fn: argument ${pos + 1} must be a literal, got $e")
    e.eval() match {
      case n: java.lang.Number => n.doubleValue()
      // fractional SQL literals (0.45) parse as DECIMAL, whose runtime
      // value is Spark's Decimal — not a java.lang.Number
      case d: org.apache.spark.sql.types.Decimal => d.toDouble
      case other => throw new IllegalArgumentException(
        s"$fn: argument ${pos + 1} must be numeric, got $other")
    }
  }

  /** graft_asof_join(left_view, right_view, key, ts, right_cols_csv
    * [, tolerance_seconds]) — [[Joins.asofJoin]] /
    * [[Joins.asofJoinTolerant]].
    */
  private def asofJoin(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_asof_join"
    require(args.length == 5 || args.length == 6,
      s"$fn(left_view, right_view, key, ts, right_cols_csv[, tolerance_seconds])")
    val rightCols = strArg(fn, args, 4).split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq
    val (l, r) = (table(strArg(fn, args, 0)), table(strArg(fn, args, 1)))
    val (key, ts) = (strArg(fn, args, 2), strArg(fn, args, 3))
    val df =
      if (args.length == 6)
        Joins.asofJoinTolerant(l, r, key, ts, rightCols,
          numArg(fn, args, 5).toLong)
      else Joins.asofJoin(l, r, key, ts, rightCols)
    df.queryExecution.logical
  }

  /** graft_range_join(points_view, value_col, intervals_view, lo_col,
    * hi_col, bin_width) — [[Joins.rangeJoinBinned]].
    */
  private def rangeJoin(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_range_join"
    require(args.length == 6,
      s"$fn(points_view, value_col, intervals_view, lo_col, hi_col, bin_width)")
    Joins.rangeJoinBinned(
      table(strArg(fn, args, 0)), strArg(fn, args, 1),
      table(strArg(fn, args, 2)), strArg(fn, args, 3), strArg(fn, args, 4),
      numArg(fn, args, 5)).queryExecution.logical
  }

  /** graft_bm25(docs_view, id_col, text_col, query_text[, k1, b]) —
    * [[TfIdf.bm25]].
    */
  private def bm25(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_bm25"
    require(args.length == 4 || args.length == 6,
      s"$fn(docs_view, id_col, text_col, query_text[, k1, b])")
    val df =
      if (args.length == 6)
        TfIdf.bm25(table(strArg(fn, args, 0)), strArg(fn, args, 1),
          strArg(fn, args, 2), strArg(fn, args, 3),
          k1 = numArg(fn, args, 4), b = numArg(fn, args, 5))
      else
        TfIdf.bm25(table(strArg(fn, args, 0)), strArg(fn, args, 1),
          strArg(fn, args, 2), strArg(fn, args, 3))
    df.queryExecution.logical
  }

  /** graft_semantic_dedup(corpus_view, centroids_view, id_col, vec_col,
    * threshold) — [[Similarity.semanticDedup]]. The operator persists
    * its cell assignment (both self-join sides consume it), so the
    * spliced plan carries a `Caches.own`-pinned intermediate. The
    * builder runs per ANALYSIS of the SQL, so it MEMOIZES the spliced
    * plan keyed on (session, args, the views' resolved plans): repeated
    * `spark.sql` / EXPLAIN of the same statement reuse one pinned
    * assignment instead of accumulating a fresh cache entry each time.
    * A memo entry is reused only while its assignment is still
    * persisted — after `Caches.release` the next invocation rebuilds
    * (and re-pins); replacing a temp view changes the key and builds
    * fresh. Long-lived sessions still call `Caches.release(spark)`
    * between logical jobs, same as the DataFrame form.
    */
  private def semanticDedup(args: Seq[Expression]): LogicalPlan = {
    val fn = "graft_semantic_dedup"
    require(args.length == 4 || args.length == 5,
      s"$fn(corpus_view[, centroids_view], id_col, vec_col, threshold)")
    val auto = args.length == 4
    val corpus = table(strArg(fn, args, 0))
    val centsExplicit = if (auto) None else Some(table(strArg(fn, args, 1)))
    val base = if (auto) 1 else 2
    val (idCol, vecCol) = (strArg(fn, args, base), strArg(fn, args, base + 1))
    val threshold = numArg(fn, args, base + 2)
    val key = (SparkSession.active,
      List(idCol, vecCol, threshold.toString, if (auto) "auto" else "explicit"),
      corpus.queryExecution.analyzed.canonicalized,
      centsExplicit.map(_.queryExecution.analyzed.canonicalized)
        .getOrElse(corpus.queryExecution.analyzed.canonicalized))
    dedupMemo.get(key) match {
      case Some((plan, assigned))
          if assigned.storageLevel != org.apache.spark.storage.StorageLevel.NONE =>
        plan
      case _ =>
        // the auto form trains √N centroids here at ANALYSIS time (a
        // count job + the seed pick run eagerly) — the memo is what
        // keeps repeated analysis of the same statement from
        // re-training per spark.sql/EXPLAIN
        val cents = centsExplicit.getOrElse(graft.Caches.own(
          Similarity.trainCentroids(corpus, idCol, vecCol)))
        val (df, assigned) = Similarity.semanticDedupWithCache(corpus, cents,
          idCol, vecCol, threshold)
        val plan = df.queryExecution.logical
        pruneMemo()
        dedupMemo.put(key, (plan, assigned))
        plan
    }
  }

  // memo: one live spliced plan per (session, args, input plans); see
  // semanticDedup's docstring. Entries whose assignment was released
  // are replaced on next access; entries of stopped sessions pruned.
  private type DedupKey = (SparkSession, List[String], LogicalPlan, LogicalPlan)
  private val dedupMemo =
    new scala.collection.concurrent.TrieMap[DedupKey, (LogicalPlan, DataFrame)]()
  private def pruneMemo(): Unit =
    dedupMemo.keysIterator.foreach { k =>
      val stale =
        try k._1.sparkContext.isStopped
        catch { case scala.util.control.NonFatal(_) => true }
      if (stale) dedupMemo.remove(k)
    }
}

package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, BindReferences, Expression, GenericInternalRow, JoinedRow, Literal, NamedExpression, Round, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.Cross
import org.apache.spark.sql.catalyst.plans.logical.{Join, JoinHint, LocalRelation, LogicalPlan, Project, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.functions.{col, round}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}

/** The driver-resident query side of a small-Q read: one row
  * (query_id, qu[, lut]) per query, the queries each key's rows are
  * scored against (`probed`: an IVF cluster, or a graph beam's fresh
  * vec_id → query indices) and the ids no query may return. With
  * `excludeSelf` a query never scores its own id; a graph beam keeps it,
  * since its ranking drops the query only after the walk. A query's
  * vector and lookup table are held once, never per probed key: at
  * d=2048 a table is ~0.5 MB. Compared by reference, so plan reuse can
  * never hand one read another read's queries.
  */
private[graft] final class QuerySide(val rows: Array[InternalRow],
                                     val probed: Map[Long, Array[Int]],
                                     val tombstones: Set[Long],
                                     val excludeSelf: Boolean = true)
    extends Serializable {
  /** The probed cluster ids, ascending. */
  def clusters: Seq[Int] = probed.keys.map(_.toInt).toSeq.sorted
  override def toString: String =
    s"QuerySide(${rows.length} queries, ${probed.size} clusters, " +
      s"${tombstones.size} tombstones)"
}

/** The top `keep` rows per query of `child`, ranked by (`score`, id):
  * (`rowId`): the window tails of a small-Q search ([[VectorSearch.topK]],
  * [[VectorSearch.pruneCandidates]]) fused into the scan. With a `side`,
  * every child row is scored against each query whose probe holds the
  * row's `key` (its cluster, or its id for a graph beam), skipping
  * tombstoned ids and, unless the side keeps it, the query's own id —
  * the probe join, run inside the scan's tasks; without one, `key` is
  * the row's query_id. NULL scores rank first, or last with
  * `nullsLast` (the quantized margin's order). Output: query_id,
  * [qu (with a side)], id, score, rn.
  */
private[graft] case class FusedTopK(side: Option[QuerySide],
                                    sideOutput: Seq[Attribute],
                                    key: Attribute, rowId: Attribute,
                                    score: Expression, keep: Int,
                                    nullsLast: Boolean,
                                    output: Seq[Attribute],
                                    child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet =
    AttributeSet(sideOutput ++ output)
  override protected def withNewChildInternal(c: LogicalPlan): FusedTopK =
    copy(child = c)
}

/** [[FusedTopK]]'s exec: ONE job. Each scan task keeps a bounded heap of
  * `keep` candidates per query; an RDD-level shuffle gathers those
  * (≤ tasks × Q × keep rows) into one task that merges them and numbers
  * the survivors. The shuffle is inside the exec, so adaptive execution
  * never splits it into jobs of its own.
  */
private[graft] case class FusedTopKExec(side: Option[QuerySide],
                                        sideOutput: Seq[Attribute],
                                        key: Attribute, rowId: Attribute,
                                        score: Expression, keep: Int,
                                        nullsLast: Boolean,
                                        output: Seq[Attribute],
                                        child: SparkPlan)
    extends UnaryExecNode {
  override def producedAttributes: AttributeSet =
    AttributeSet(sideOutput ++ output)
  override def outputPartitioning: Partitioning = SinglePartition
  override protected def withNewChildInternal(c: SparkPlan): FusedTopKExec =
    copy(child = c)

  protected override def doExecute(): RDD[InternalRow] = {
    val bound = BindReferences.bindReference(score, sideOutput ++ child.output)
    val keyOf = FusedTopK.longAt(child.output, key)
    val idOf = FusedTopK.longAt(child.output, rowId)
    val queries = side.map(sparkContext.broadcast(_))
    val (k, last, types) = (keep, nullsLast, output.map(_.dataType).toArray)
    child.execute().mapPartitions { rows =>
      val heaps = new FusedTopK.Heaps(k, last)
      val eval = UnsafeProjection.create(Seq(bound))
      def offer(q: Long, rid: Long, scored: InternalRow): Unit = {
        val r = eval(scored)
        heaps.offer(q, FusedTopK.Cand(rid,
          if (r.isNullAt(0)) 0.0 else r.getDouble(0), r.isNullAt(0)))
      }
      queries.map(_.value) match {
        case Some(s) =>
          val joined = new JoinedRow
          rows.foreach { row =>
            if (!row.isNullAt(idOf._1) && !row.isNullAt(keyOf._1)) {
              val rid = idOf._2(row)
              if (!s.tombstones.contains(rid))
                s.probed.get(keyOf._2(row)).foreach(_.foreach { q =>
                  val qid = s.rows(q).getLong(0)
                  if (qid != rid || !s.excludeSelf)
                    offer(qid, rid, joined(s.rows(q), row))
                })
            }
          }
        case None =>
          rows.foreach { row =>
            if (!row.isNullAt(idOf._1) && !row.isNullAt(keyOf._1))
              offer(keyOf._2(row), idOf._2(row), row)
          }
      }
      heaps.iterator
    }.coalesce(1, shuffle = true).mapPartitions { cands =>
      val heaps = new FusedTopK.Heaps(k, last)
      cands.foreach { case (q, c) => heaps.offer(q, c) }
      val quOf = queries.map(_.value.rows.reverseIterator
        .map(r => r.getLong(0) -> r.getArray(1)).toMap)
      val toUnsafe = UnsafeProjection.create(types)
      heaps.ranked.map { case (q, c, rn) =>
        val score = if (c.isNull) null else c.score
        toUnsafe(new GenericInternalRow(quOf.fold(Array[Any](q, c.id,
          score, rn))(qu => Array[Any](q, qu(q), c.id, score, rn))))
      }
    }
  }
}

private[graft] object FusedTopK {

  /** One candidate of a query's heap. */
  private[operators] final case class Cand(id: Long, score: Double,
                                           isNull: Boolean)

  /** (score, id) in SQL double order (NaN last, -0.0 = 0.0) with NULL
    * scores first, or last with `nullsLast`: the order of the window
    * tails the fused read replaces, and of the probe window's (cdist,
    * cluster).
    */
  private[operators] def ordering(nullsLast: Boolean): Ordering[Cand] =
    (a, b) => {
      val s =
        if (a.isNull || b.isNull) {
          if (a.isNull == b.isNull) 0
          else if (a.isNull == nullsLast) 1 else -1
        } else SQLOrderingUtil.compareDoubles(a.score, b.score)
      if (s != 0) s else java.lang.Long.compare(a.id, b.id)
    }

  /** Per-query bounded heaps of the best `keep` candidates by
    * [[ordering]].
    */
  private[operators] final class Heaps(keep: Int, nullsLast: Boolean) {
    private val order = ordering(nullsLast)
    private val byQuery =
      scala.collection.mutable.LongMap.empty[java.util.PriorityQueue[Cand]]

    def offer(q: Long, c: Cand): Unit = if (keep > 0) {
      // the head is the worst kept candidate
      val h = byQuery.getOrElseUpdate(q,
        new java.util.PriorityQueue[Cand](order.reverse))
      if (h.size < keep) h.add(c)
      else if (order.lt(c, h.peek)) { h.poll(); h.add(c) }
    }

    def iterator: Iterator[(Long, Cand)] = byQuery.iterator.flatMap {
      case (q, h) => h.toArray(new Array[Cand](0)).iterator.map(q -> _) }

    /** (query, candidate, rank) by query, then rank. */
    def ranked: Iterator[(Long, Cand, Long)] =
      byQuery.keys.toSeq.sorted.iterator.flatMap { q =>
        byQuery(q).toArray(new Array[Cand](0)).sorted(order).iterator
          .zipWithIndex.map { case (c, i) => (q, c, i + 1L) }
      }
  }

  /** The ordinal of `a` in `attrs` and a reader of its (int or long)
    * value as a long.
    */
  private[operators] def longAt(attrs: Seq[Attribute], a: Attribute)
      : (Int, InternalRow => Long) = {
    val i = attrs.indexWhere(_.exprId == a.exprId)
    require(i >= 0, s"$a is not an input of the fused top-k")
    (i, a.dataType match {
      case IntegerType => (r: InternalRow) => r.getInt(i).toLong
      case LongType => (r: InternalRow) => r.getLong(i)
      case t => throw new IllegalArgumentException(s"$a: $t is not an id")
    })
  }

  /** Plans [[FusedTopK]]; installed on a session by the first read that
    * builds one.
    */
  object Planner extends SparkStrategy {
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case f: FusedTopK =>
        FusedTopKExec(f.side, f.sideOutput, f.key, f.rowId, f.score, f.keep,
          f.nullsLast, f.output, planLater(f.child)) :: Nil
      case _ => Nil
    }
  }

  private def frame(spark: SparkSession, node: FusedTopK): DataFrame = {
    val e = spark.experimental
    e.synchronized {
      if (!e.extraStrategies.contains(Planner))
        e.extraStrategies = e.extraStrategies :+ Planner
    }
    ColumnBridge.ofRows(spark, node)
  }

  private def attr(plan: LogicalPlan, name: String): Attribute =
    plan.output.find(_.name == name).getOrElse(throw
      new IllegalArgumentException(s"no `$name` column in ${plan.output}"))

  /** The top `keep` rows per query of the probed `scan` (vec_id, `key`,
    * …) scored by `score` — a column over the scan's columns and the
    * side's query_id, qu (typed `quType`, as the caller's query frame, so
    * `score` resolves exactly as it does over a probe join) and, with
    * `withLut`, PQ's lookup table — as (query_id, qu, id, score, rn).
    * `key` is the scan column the side's `probed` map is keyed by.
    */
  def probed(spark: SparkSession, side: QuerySide, quType: DataType,
             withLut: Boolean, scan: DataFrame, score: Column,
             keep: Int, nullsLast: Boolean,
             key: String = "cluster"): DataFrame = {
    val sideOutput =
      Seq(AttributeReference("query_id", LongType, nullable = false)(),
        AttributeReference("qu", quType)()) ++
        Option.when(withLut)(
          AttributeReference("lut", ArrayType(DoubleType, false))())
    val child = scan.queryExecution.analyzed
    val resolved = ColumnBridge.ofRows(spark, Join(LocalRelation(sideOutput),
      child, Cross, None, JoinHint.NONE)).select(score)
      .queryExecution.analyzed match { case Project(Seq(e), _) => e }
    val (name, expr) = resolved match {
      case a: Alias => (a.name, a.child)
      case n: NamedExpression => (n.name, n)
    }
    require(expr.dataType == DoubleType, s"score $name is not a double")
    frame(spark, FusedTopK(Some(side), sideOutput, attr(child, key),
      attr(child, "vec_id"), expr, keep, nullsLast,
      Seq(AttributeReference("query_id", LongType, nullable = false)(),
        AttributeReference("qu", quType)(),
        AttributeReference("id", LongType, nullable = false)(),
        AttributeReference(name, DoubleType)(),
        AttributeReference("rn", LongType, nullable = false)()), child))
  }

  /** `round(d, 6)` as the ranking tails' `round` column computes it:
    * for the rows a driver-side tail ranks itself.
    */
  def rounded(d: Double): Double =
    Round(Literal(d), Literal(6)).eval().asInstanceOf[Double]

  /** [[VectorSearch.topK]] as one job: the top `k` of (query_id, id,
    * dist) pairs per query as (query_id, id, distance, rn).
    */
  def ranked(pairs: DataFrame, k: Int): DataFrame = {
    val child = pairs.queryExecution.analyzed
    frame(pairs.sparkSession, FusedTopK(None, Nil, attr(child, "query_id"),
      attr(child, "id"), attr(child, "dist"), k, nullsLast = false,
      Seq(AttributeReference("query_id", LongType, nullable = false)(),
        AttributeReference("id", LongType, nullable = false)(),
        AttributeReference("dist", DoubleType)(),
        AttributeReference("rn", LongType, nullable = false)()), child))
      .select(col("query_id"), col("id"), round(col("dist"), 6)
        .as("distance"), col("rn"))
  }
}

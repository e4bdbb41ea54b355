package graft.spark.source

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, PlanExpression}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.functions.{col, lit, monotonically_increasing_id, when}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import graft.spark.EncodeJob

/** Executes analyzed SQL UPDATE / MERGE INTO plans against graft tables
  * through the engine's rewrite machinery. Shares the crash-safety and
  * time-travel story of every other rewrite: the new batch is invisible
  * until its compaction record lands, `VERSION AS OF` before the DML
  * still sees the old rows until vacuum.
  *
  * The reference has no DML at all (write-once ORC files,
  * /root/reference/src/ApacheOrcDotNet/OrcWriter.cs); this is the
  * table-service layer a warehouse user expects on top.
  */
object GraftDmlRunner {

  private def noSubqueries(label: String, es: Iterable[Expression]): Unit =
    es.foreach { e =>
      require(!e.exists(_.isInstanceOf[PlanExpression[_]]),
        s"graft $label does not support subqueries in conditions/assignments yet; " +
          "materialize the subquery into a source table and use MERGE INTO")
    }

  /** Resolved target-side expressions are re-bound by NAME so they can
    * run over the freshly-decoded frame inside the rewrite (whose
    * attribute ids differ from the scan the analyzer resolved against).
    * Safe because graft schemas are flat and column names unique.
    */
  private def byName(e: Expression): Column =
    Bridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    })

  /** SQL UPDATE: selective batch rewrite via EncodeJob.updateWhere (only
    * batches whose stats admit the condition are decoded/re-encoded).
    */
  def update(table: GraftTable, u: UpdateTable): Unit = {
    val spark = SparkSession.active
    val dir = table.dir
    noSubqueries("UPDATE", u.condition ++ u.assignments.map(_.value))
    val cond = u.condition.map(byName).getOrElse(lit(true))
    val assigns = u.assignments.map { a =>
      val name = a.key match {
        case ar: AttributeReference => ar.name
        case other => throw new UnsupportedOperationException(
          s"graft UPDATE supports top-level column assignments only, got $other")
      }
      name -> byName(a.value)
    }.toMap
    EncodeJob.updateWhere(spark, dir, cond, assigns, table.dmlPartitions(spark))
  }

  /** SQL DELETE, strategy route: unlike the SupportsDeleteV2 surface
    * (which must refuse conditions without a lossless V1 translation),
    * the rewrite engine evaluates the RESOLVED expression exactly, so
    * UDFs/functions in the WHERE clause work. Same selective batch
    * pruning (translatable conjuncts still prune via chunk stats), same
    * atomic commit, same SQL null semantics (condition-NULL rows kept).
    */
  def delete(table: GraftTable, d: DeleteFromTable): Unit = {
    val spark = SparkSession.active
    noSubqueries("DELETE", Seq(d.condition))
    EncodeJob.deleteWhere(spark, table.dir, byName(d.condition), table.dmlPartitions(spark))
  }

  /** SQL MERGE INTO, copy-on-write: the merged result is computed over
    * the live table (resolved expressions composed directly over the
    * analyzer's own plans, so ids line up), encoded as one new batch,
    * and swapped in atomically for every visible batch. A full rewrite
    * by design — matched rows can live anywhere; at 100 TB run MERGE in
    * key-aligned waves or pre-filter the source. Semantics follow SQL:
    * first matching clause wins, unmatched-target rows pass through
    * unchanged (unless a NOT MATCHED BY SOURCE clause says otherwise),
    * and a target row matching multiple source rows is an error when
    * any MATCHED/NOT MATCHED BY SOURCE clause exists.
    */
  def merge(table: GraftTable, m: MergeIntoTable): Unit = {
    val spark = SparkSession.active
    val dir = table.dir
    require(!m.withSchemaEvolution, "graft MERGE does not support WITH SCHEMA EVOLUTION")
    val allActions = m.matchedActions ++ m.notMatchedActions ++ m.notMatchedBySourceActions
    noSubqueries("MERGE", Seq(m.mergeCondition) ++ allActions.flatMap {
      case a: UpdateAction => a.condition.toSeq ++ a.assignments.map(_.value)
      case a: DeleteAction => a.condition.toSeq
      case a: InsertAction => a.condition.toSeq ++ a.assignments.map(_.value)
      case other => throw new UnsupportedOperationException(
        s"graft MERGE does not support action $other (star actions must be " +
          "expanded by the analyzer)")
    })

    val targetAttrs: Seq[Attribute] = m.targetTable.output
    val tid = "__graft_merge_tid"

    // ---- selective rewrite (the 100 TB fix): when the merge-on
    // condition carries equi-conjuncts `t.col = <source expr>`, the
    // source's key bounds translate into target predicates, and batches
    // whose chunk stats provably admit NO match stay visible UNTOUCHED —
    // their files are never decoded, re-encoded or rewritten. A 10-row
    // upsert into a many-batch table rewrites only the batches the keys
    // can live in (and appends the insert branch when none match).
    // Conservative everywhere: non-equi conditions, NOT MATCHED BY
    // SOURCE clauses (they touch unmatched rows table-wide), single-batch
    // tables, already-pushed-down scan shapes and non-deterministic
    // sources or keys (the bounds pass and the merge itself would each
    // draw different keys, so pruned batches could hold real matches)
    // fall back to the full copy-on-write rewrite.
    val visible = EncodeJob.committedBatches(spark, dir)
    def conj(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => conj(l) ++ conj(r)
      case other => Seq(other)
    }
    val equi: Seq[(AttributeReference, Expression)] = {
      val targetSet = m.targetTable.outputSet
      val srcSet = m.sourceTable.outputSet
      import org.apache.spark.sql.catalyst.expressions.{EqualTo => CatEq}
      conj(m.mergeCondition).collect {
        case CatEq(a: AttributeReference, b)
            if targetSet.contains(a) && b.references.subsetOf(srcSet) => (a, b)
        case CatEq(b, a: AttributeReference)
            if targetSet.contains(a) && b.references.subsetOf(srcSet) => (a, b)
      }
    }
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
    // the optimizer may already have rewritten the target into a scan
    // relation (V2ScanRelationPushDown runs before planning) — both
    // shapes are restrictable
    val plainRelation = m.targetTable.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] => r
      case sr: DataSourceV2ScanRelation if sr.relation.table.isInstanceOf[GraftTable] => sr.relation
    }.isDefined
    var sourceEmpty = false
    val affected: Set[Int] =
      if (visible.size <= 1 || equi.isEmpty || !plainRelation ||
          m.notMatchedBySourceActions.nonEmpty || !m.sourceTable.deterministic ||
          !equi.forall(_._2.deterministic)) visible
      else {
        // one narrow aggregate over the (small) source: row count, per
        // equi-key min/max bounds, and an approximate distinct count that
        // decides whether an exact IN-set is worth collecting — an IN-set
        // prunes per VALUE (range gaps + bloom probes), so an upsert whose
        // insert keys sit far from its matched keys doesn't smear one
        // giant [min, max] interval over unrelated batches
        import org.apache.spark.sql.functions.{approx_count_distinct, count => fcount, max => fmax, min => fmin}
        val aggs = fcount(lit(1)) +: (equi.flatMap { case (_, e) =>
          Seq(fmin(Bridge.column(e)), fmax(Bridge.column(e))) } ++
          equi.map { case (_, e) => approx_count_distinct(Bridge.column(e)) })
        val src = Bridge.ofRows(spark, m.sourceTable)
        val row = src.agg(aggs.head, aggs.tail: _*).collect()(0)
        if (row.getLong(0) == 0L) { sourceEmpty = true; Set.empty }
        else if ((1 to equi.size * 2).exists(row.isNullAt)) Set.empty // null keys match nothing
        else {
          val InSetCap = 512
          val cond = equi.zipWithIndex.map { case ((a, e), i) =>
            val keyCol = Bridge.column(e)
            val approx = row.getLong(1 + equi.size * 2 + i)
            val inSet: Option[Seq[Any]] =
              if (approx > InSetCap) None // big source: bounds only
              else {
                val vs = src.select(keyCol.as("k")).filter(col("k").isNotNull)
                  .distinct().limit(InSetCap + 1).collect().map(_.get(0)).toSeq
                if (vs.size > InSetCap) None else Some(vs)
              }
            inSet match {
              case Some(vs) => col(a.name).isin(vs: _*)
              case None =>
                col(a.name) >= lit(row.get(2 * i + 1)) && col(a.name) <= lit(row.get(2 * i + 2))
            }
          }.reduce(_ && _)
          EncodeJob.affectedBatches(spark, dir, cond)
        }
      }
    // empty source: no matches AND nothing to insert — a provable no-op
    if (sourceEmpty) return
    // nothing can match and there is no insert branch: no-op
    if (affected.isEmpty && visible.nonEmpty &&
        !m.notMatchedActions.exists(_.isInstanceOf[InsertAction])) return

    def restrict(r: DataSourceV2Relation): DataSourceV2Relation = {
      val o = new java.util.HashMap[String, String](r.options)
      o.put("visibleBatches", affected.toSeq.sorted.mkString(","))
      r.copy(options = new CaseInsensitiveStringMap(o))
    }
    val targetPlan =
      if (affected == visible) m.targetTable
      else m.targetTable.transform {
        case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] => restrict(r)
        case sr: DataSourceV2ScanRelation if sr.relation.table.isInstanceOf[GraftTable] =>
          // rebuild as a (restricted) plain relation KEEPING the scan
          // relation's attribute ids — re-optimization re-pushes over the
          // narrowed batch set
          restrict(sr.relation).copy(output = sr.output)
      }

    // the tag makes target rows identifiable across the three branches
    // and pins match cardinality; persisted so every branch sees the
    // same ids (and the join runs once per branch off memory/disk, not
    // three times off the table)
    val target = Bridge.ofRows(spark, targetPlan)
      .withColumn(tid, monotonically_increasing_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cachedPairs: Option[DataFrame] = None
    try {
      val source = Bridge.ofRows(spark, m.sourceTable)
      val cond = Bridge.column(m.mergeCondition)

      def actionCond(c: Option[Expression]): Column = c.map(Bridge.column).getOrElse(lit(true))
      def assignedValue(attr: Attribute, assignments: Seq[Assignment]): Column =
        assignments.collectFirst {
          case as if as.key.semanticEquals(attr) => Bridge.column(as.value)
        }.getOrElse(Bridge.column(attr))

      /** First-matching-clause-wins CASE chain over UPDATE/DELETE
        * actions: per-column value + a keep flag (false = row deleted).
        */
      def applyActions(rows: DataFrame, actions: Seq[MergeAction]): DataFrame = {
        val keep = actions.foldRight(lit(true)) { (a, els) =>
          a match {
            case d: DeleteAction => when(actionCond(d.condition), lit(false)).otherwise(els)
            case u: UpdateAction => when(actionCond(u.condition), lit(true)).otherwise(els)
            case other => throw new UnsupportedOperationException(
              s"unexpected MERGE action $other in a target-row clause")
          }
        }
        val values = targetAttrs.map { attr =>
          actions.foldRight(Bridge.column(attr)) { (a, els) =>
            a match {
              case u: UpdateAction =>
                when(actionCond(u.condition), assignedValue(attr, u.assignments)).otherwise(els)
              case d: DeleteAction =>
                when(actionCond(d.condition), Bridge.column(attr)).otherwise(els)
              case other => throw new UnsupportedOperationException(other.toString)
            }
          }.as(attr.name)
        }
        rows.select(values :+ keep.as("__graft_keep"): _*)
          .filter(col("__graft_keep")).drop("__graft_keep")
      }

      // matched pairs — cardinality checked when any target-row clause
      // could apply twice to the same target row. The pairs are persisted
      // across check and rewrite, so the inner join executes ONCE: the
      // check job reads the cache the rewrite will reuse, instead of
      // re-running the join for a throwaway aggregate (guide §1.2: don't
      // compute things twice). The check itself shuffles only (tid, count)
      // partials, never the payload columns.
      val matchedOut =
        if (m.matchedActions.isEmpty)
          // no matched clause: matched target rows pass through unchanged
          target.join(source, cond, "left_semi")
            .select(targetAttrs.map(a => Bridge.column(a).as(a.name)): _*)
        else {
          val pairs = target.join(source, cond, "inner")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          cachedPairs = Some(pairs)
          val dup = pairs.groupBy(col(tid)).count()
            .filter(col("count") > 1).limit(1).count() > 0
          require(!dup,
            "MERGE cardinality violation: a target row matched more than one source row")
          applyActions(pairs, m.matchedActions)
        }

      val unmatchedTarget = target.join(source, cond, "left_anti")
      val unmatchedOut =
        if (m.notMatchedBySourceActions.isEmpty)
          unmatchedTarget.select(targetAttrs.map(a => Bridge.column(a).as(a.name)): _*)
        else applyActions(unmatchedTarget, m.notMatchedBySourceActions)

      val insertOut = {
        val unmatchedSource = source.join(target, cond, "left_anti")
        val inserts = m.notMatchedActions.collect { case i: InsertAction => i }
        if (inserts.isEmpty) None
        else {
          val keep = inserts.foldRight(lit(false)) { (a, els) =>
            when(actionCond(a.condition), lit(true)).otherwise(els)
          }
          val values = targetAttrs.map { attr =>
            inserts.foldRight(lit(null).cast(attr.dataType): Column) { (a, els) =>
              when(actionCond(a.condition), assignedValue(attr, a.assignments)).otherwise(els)
            }.as(attr.name)
          }
          Some(unmatchedSource.select(values :+ keep.as("__graft_keep"): _*)
            .filter(col("__graft_keep")).drop("__graft_keep"))
        }
      }

      val schema = EncodeJob.schemaFromDisk(spark, dir).getOrElse(
        throw new IllegalStateException(s"no schema.json under $dir — cannot MERGE"))
      def conform(df: DataFrame): DataFrame =
        df.select(schema.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      val result = (Seq(matchedOut, unmatchedOut) ++ insertOut.toSeq)
        .map(conform).reduce(_ unionByName _)
      // MERGE into an EMPTY table (the upsert-bootstrap case) has nothing
      // to replace — the result (inserts only) appends as a normal batch.
      // The selective paths mirror it: no affected batch → the result IS
      // the insert branch, appended; a strict subset → only those batches
      // swap for the result, the rest stay visible byte-identical.
      if (visible.isEmpty || affected.isEmpty)
        GraftWriteSupport.insert(result, dir, table.writeOptions, overwrite = false)
      else if (affected == visible)
        EncodeJob.rewriteVisibleWith(spark, dir, table.dmlPartitions(spark), result)
      else
        EncodeJob.rewriteSubsetWith(spark, dir, table.dmlPartitions(spark), affected, result)
    } finally {
      cachedPairs.foreach(_.unpersist())
      target.unpersist()
    }
  }
}

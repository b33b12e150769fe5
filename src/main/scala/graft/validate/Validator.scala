package graft.validate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Post-migration validation (V1-V4; Test-MigrationValidation at
  * private/Migration_Validation.ps1:1-418).
  *
  * The reference validates by N driver-side point lookups (`SELECT * WHERE
  * _id = ?` per sampled doc, :221-264). Here the sampled compare is ONE
  * join that broadcasts the tiny sample side, so the target is only
  * streamed through a hash probe at any scale.
  *
  * The V3 integrity suite — null and duplicate parent keys, the empty
  * target, and per child table its orphaned rows, missing children and
  * `array_index` gaps — is ONE plan ([[tallies]]):
  *  1. a union of `(key, table tag, value)` legs: one for the parent, one
  *     per child (value = `array_index`), one per expectation frame;
  *  2. one hash aggregate on the key (a single shuffle: the union is
  *     hash-partitioned on the key once, and the per-(key, tag, value)
  *     pre-aggregate that exposes duplicate indexes rides the same
  *     partitioning);
  *  3. one global fold of the per-key rows into every check's tally.
  * [[integrity]] and [[fkIntegrity]] are projections of that one row, and
  * [[statusReport]] adds two legs to the same union — the source keys (its
  * row count) and the sampled compare's per-row mismatch flags — so the
  * whole V4 report is one aggregate plus the sample's broadcast. Null keys
  * never match, as in an SQL equi-join.
  */
object Validator {

  /** V1/A5: count reconciliation (:84-94). One row:
    * (source_cnt, target_cnt, diff, counts_match). */
  def countReconciliation(source: DataFrame, target: DataFrame): DataFrame = {
    val s = source.agg(count(lit(1)).as("source_cnt"))
    val t = target.agg(count(lit(1)).as("target_cnt"))
    s.crossJoin(t)
      .withColumn("diff", abs(col("source_cnt") - col("target_cnt")))
      .withColumn("counts_match", col("source_cnt") === col("target_cnt"))
  }

  /** The V2 join: every sample row meets its target rows (or nulls, when
    * the target lacks its key), keyed `__skey`, with the (field, source
    * canon, target canon) triple of each compared field. Both sides are
    * re-aliased, so a sample drawn from the target itself joins cleanly. */
  private def comparePairs(sample: DataFrame, target: DataFrame, key: String,
      fields: Seq[String]): (DataFrame, Seq[(String, Column, Column)]) = {
    def side(df: DataFrame, p: String) = df.select(col(key).as(s"__${p}key") +:
      fields.map(f => col(f).as(s"__${p}_$f")): _*)
    val joined = side(target, "t").join(broadcast(side(sample, "s")),
      col("__skey") === col("__tkey"), "right_outer")
    val sdt = sample.schema.fields.map(f => f.name -> f.dataType).toMap
    val tdt = target.schema.fields.map(f => f.name -> f.dataType).toMap
    (joined, fields.map(f => (f, Normalize.canon(col(s"__s_$f"), sdt(f)),
      Normalize.canon(col(s"__t_$f"), tdt(f)))))
  }

  /** V2/J2: sampled row comparison under the F8 canon (:106-145, :266-324).
    * Emits one row per (id, field) mismatch: melted via an array-of-structs
    * + explode (codegen'd), filtered to differences. A target-missing row
    * reports every compared field with target_value = "" (reference reports
    * "missing in SQL", :318-320). */
  def rowCompare(sample: DataFrame, target: DataFrame, key: String,
      fields: Seq[String]): DataFrame = {
    val (joined, pairs) = comparePairs(sample, target, key, fields)
    val diffs: Column = array(pairs.map { case (f, s, t) =>
      struct(lit(f).as("field"), s.as("source_value"), t.as("target_value"))
    }: _*)
    joined
      .select(col("__skey").as("_id"), explode(diffs).as("d"))
      .select(col("_id"), col("d.field").as("field"),
        col("d.source_value").as("source_value"),
        col("d.target_value").as("target_value"))
      .filter(col("source_value") =!= col("target_value"))
  }

  /** One child table under the FK checks: its rows, its fk column, and
    * optionally the ids of parents REQUIRED to have child rows. */
  private case class ChildCheck(rows: DataFrame, fk: String,
      expected: Option[DataFrame] = None)

  // leg tags of the [[tallies]] union
  private val ParentLeg = 0
  private val SourceLeg = 1
  private val SampleLeg = 2
  private def childLeg(i: Int) = 3 + 2 * i
  private def expectedLeg(i: Int) = 4 + 2 * i

  /** The whole integrity suite as ONE one-row plan (see the object doc).
    * Columns: `target_cnt`, `null_pk`, `duplicate_keys`, `empty_table`;
    * per child i `orphaned_child_rows_i`, `missing_children_i`,
    * `array_index_gaps_i`; with a source, `source_cnt`; with a (sample,
    * fields) compare against the parent, `samples_failed` (distinct
    * sampled keys with a mismatching field, a null key counting once).
    * Child and expectation keys are compared in the parent key's type —
    * a decomposed child's fk carries it by construction.
    *
    * Per key, a child's indexes are exactly 0..n-1 iff min = 0, max = n-1
    * and no index is null or repeated; the repeat test is exact because
    * the (key, tag, value) pre-aggregate counts each index value, which
    * catches the duplicate-index-plus-gap shape ([0,0,2]) that min/max
    * alone let through. */
  private def tallies(parent: DataFrame, key: String,
      children: Seq[ChildCheck], source: Option[DataFrame] = None,
      sampled: Option[(DataFrame, Seq[String])] = None)
      : DataFrame = {
    val kt = parent.schema(key).dataType
    def leg(df: DataFrame, k: Column, tag: Int,
        v: Column = lit(null)): DataFrame =
      df.select(k.cast(kt).as("__k"), lit(tag).as("__t"),
        v.cast("long").as("__v"))
    val sampleLeg = sampled.map { case (sample, fields) =>
      val (joined, pairs) = comparePairs(sample, parent, key, fields)
      val mismatch = pairs.map { case (_, s, t) => s =!= t }
        .reduceOption(_ || _).getOrElse(lit(false))
      leg(joined, col("__skey"), SampleLeg, when(mismatch, 1L).otherwise(0L))
    }
    val indexed = children.map(_.rows.columns.contains("array_index"))
    val legs = Seq(leg(parent, col(key), ParentLeg)) ++
      source.map(leg(_, col(key), SourceLeg)) ++ sampleLeg ++
      children.zipWithIndex.flatMap { case (ch, i) =>
        leg(ch.rows, col(ch.fk), childLeg(i),
          if (indexed(i)) col("array_index") else lit(null)) +:
        ch.expected.toSeq.map(e => leg(e, col(e.columns.head), expectedLeg(i)))
      }
    def at(tag: Int, c: Column): Column = when(col("__t") === tag, c)
    val perKeyAggs =
      Seq(sum(at(ParentLeg, col("__c"))).as("p")) ++
        source.map(_ => sum(at(SourceLeg, col("__c"))).as("s")) ++
        sampled.map(_ => max(at(SampleLeg, col("__v"))).as("f")) ++
        children.indices.flatMap { i =>
          val t = childLeg(i)
          Seq(sum(at(t, col("__c"))).as(s"n$i")) ++
            (if (!indexed(i)) Nil else Seq(
              min(at(t, col("__v"))).as(s"mn$i"),
              max(at(t, col("__v"))).as(s"mx$i"),
              count(when(col("__t") === t &&
                (col("__v").isNull || col("__c") > 1), 1)).as(s"bad$i"))) ++
            children(i).expected.map(_ =>
              sum(at(expectedLeg(i), col("__c"))).as(s"e$i"))
        }
    val perKey = legs.reduce(_ unionByName _)
      .repartition(col("__k"))
      .groupBy("__k", "__t", "__v").agg(count(lit(1)).as("__c"))
      .groupBy("__k").agg(perKeyAggs.head, perKeyAggs.tail: _*)
    def total(c: Column): Column = coalesce(sum(c), lit(0L))
    def keysWhere(c: Column): Column = count(when(c, 1))
    val nullKey = col("__k").isNull
    val p = coalesce(col("p"), lit(0L))
    val matched = !nullKey && p > 0
    val folds =
      Seq(total(p).as("target_cnt"), total(when(nullKey, p)).as("null_pk"),
        keysWhere(!nullKey && p > 1).as("duplicate_keys")) ++
        source.map(_ => total(col("s")).as("source_cnt")) ++
        sampled.map(_ => keysWhere(col("f") === 1).as("samples_failed")) ++
        children.indices.flatMap { i =>
          val n = col(s"n$i")
          Seq(total(when(!matched, n)).as(s"orphaned_child_rows_$i"),
            (if (children(i).expected.isEmpty) lit(0L)
            else total(when(nullKey || coalesce(n, lit(0L)) === 0,
              col(s"e$i")))).as(s"missing_children_$i"),
            (if (!indexed(i)) lit(0L)
            else keysWhere(n > 0 && (col(s"bad$i") > 0 ||
              col(s"mn$i") =!= 0 || col(s"mx$i") =!= n - 1)))
              .as(s"array_index_gaps_$i"))
        }
    perKey.agg(folds.head, folds.tail: _*)
      .withColumn("empty_table",
        when(col("target_cnt") === 0, 1L).otherwise(0L))
  }

  /** A one-row tally frame as (check_name, issue_count) rows, in order. */
  private def checks(tally: DataFrame, named: Seq[(String, String)])
      : DataFrame =
    tally.select(inline(array(named.map { case (name, c) =>
      struct(lit(name).as("check_name"), col(c).as("issue_count"))
    }: _*)))

  /** V3: integrity suite (:365-418) — null PKs (F4/A7, :382-388), duplicate
    * keys (A6, :391-402), empty table (A8, :405-411) as one 3-row report. */
  def integrity(df: DataFrame, key: String): DataFrame =
    checks(tallies(df, key, Nil), Seq("null_pk" -> "null_pk",
      "duplicate_keys" -> "duplicate_keys", "empty_table" -> "empty_table"))

  /** V3 extension — CROSS-TABLE referential integrity between a parent
    * table (keyed by `key`) and one decomposed child table (keyed by
    * `fkCol`, optionally positional via `array_index`): the suite that
    * catches a stale child table after a main-only sync (round-11 verdict
    * item 3 — an updated parent whose array edit never landed, a deleted
    * parent's stranded rows). Three one-row checks, same (check_name,
    * issue_count) surface as [[integrity]]:
    *  - `orphaned_child_rows`: child rows whose fk matches no parent key;
    *  - `missing_children`: parents REQUIRED to have child rows (pass ids
    *    of docs whose source array/object is non-empty) that have none —
    *    0 when no expectation frame is given;
    *  - `array_index_gaps`: parents whose child indexes are not exactly
    *    0..n-1 (0 for child tables without an `array_index` column).
    * All three come from the one keyed aggregate of [[tallies]]. */
  def fkIntegrity(parent: DataFrame, child: DataFrame, key: String,
      fkCol: String, expectedParents: Option[DataFrame] = None): DataFrame =
    checks(tallies(parent, key, Seq(ChildCheck(child, fkCol, expectedParents))),
      Seq("orphaned_child_rows" -> "orphaned_child_rows_0",
        "missing_children" -> "missing_children_0",
        "array_index_gaps" -> "array_index_gaps_0"))

  /** V4: status roll-up (:164-177) — PASSED / PARTIAL (passed > failed) /
    * FAILED; ERROR is raised by exceptions, not computed. */
  def status(countsMatch: Boolean, samplesPassed: Long, samplesFailed: Long,
      integrityIssues: Long): String =
    if (countsMatch && samplesFailed == 0 && integrityIssues == 0) "PASSED"
    else if (samplesPassed > samplesFailed) "PARTIAL"
    else "FAILED"

  /** V4 as a one-row DataFrame rollup: V1 counts, V2 sampled compare and
    * the V3 suite — extended with the FK checks over each (child table,
    * fk column) pair, so a stale or orphaned child table FAILS the
    * migration status instead of passing silently — all from the one
    * aggregate of [[tallies]]. The sampled rows are the `sampleSize`
    * highest keys; their count is min(source rows, sampleSize), so a
    * source smaller than the sample reports no phantom passing samples. */
  def statusReport(source: DataFrame, target: DataFrame, key: String,
      fields: Seq[String], sampleSize: Int = 10,
      children: Seq[(DataFrame, String)] = Seq.empty): DataFrame = {
    val sample = source.orderBy(col(key).desc).limit(sampleSize)
    val tally = tallies(target, key,
      children.map { case (rows, fk) => ChildCheck(rows, fk) },
      source = Some(source), sampled = Some((sample, fields)))
    val issues = (Seq("null_pk", "duplicate_keys", "empty_table") ++
      children.indices.flatMap(i => Seq(s"orphaned_child_rows_$i",
        s"array_index_gaps_$i"))).map(col).reduce(_ + _)
    tally.select(col("source_cnt"), col("target_cnt"),
        abs(col("source_cnt") - col("target_cnt")).as("diff"),
        (col("source_cnt") === col("target_cnt")).as("counts_match"),
        col("samples_failed"), issues.as("integrity_issues"),
        (least(col("source_cnt"), lit(sampleSize.toLong)) -
          col("samples_failed")).as("samples_passed"))
      .withColumn("status",
        when(col("counts_match") && col("samples_failed") === 0 &&
          col("integrity_issues") === 0, "PASSED")
          .when(col("samples_passed") > col("samples_failed"), "PARTIAL")
          .otherwise("FAILED"))
  }
}

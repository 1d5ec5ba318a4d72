package graft.functions

import org.apache.spark.sql.{Column, DataFrame, GraftShims, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, BasePredicate,
  BindReferences, BoundReference, Expression, Generator, InterpretedOrdering, IsNotNull, JoinedRow,
  Predicate, SortOrder, UnaryExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.optimizer.{ConstantFolding, ReplaceExpressions}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project}
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.functions.{col, collect_list, struct}
import org.apache.spark.sql.types.{ArrayType, DataType, Decimal, StructType}
import org.apache.spark.unsafe.types.{CalendarInterval, GeographyVal, GeometryVal, UTF8String, VariantVal}

/** The per-bucket pair kernel behind the blocked near-dup self-joins
  * ([[BucketPairs.selfJoin]]). Its input is one bucket: an
  * `array<struct<…>>` of the member rows that share a blocking key. It
  * walks the bucket's unordered pairs i < j once, members sorted by their
  * id field `idIndex`, and emits the row (a, b) for each pair where `cond`
  * holds, `a` the member with the lower id. `cond` is bound to that row,
  * [[elementSchema]]: the member fields suffixed `a`, then `b`. It
  * must imply `ida < idb`; then the rows emitted are exactly those of the
  * self-join `a.key = b.key AND cond`, which matches c² rows for a bucket
  * of c members where the kernel makes c·(c−1)/2 predicate calls.
  *
  * `cond` is compiled once per partition (a lazy transient, rebuilt when a
  * task deserializes the plan), never per bucket or per pair; members are
  * read in place from the bucket's UnsafeRow array through one reused
  * [[BucketPairs.Pair]]. A hot key still costs the square of its bucket,
  * now as loop steps rather than join rows. A bucket's members sit in one
  * row, as the join's sort buffer held them. The yielded row is reused:
  * GenerateExec projects each one before it asks for the next (the kernel
  * is interpreted, [[CodegenFallback]]). */
private[graft] case class BucketPairs(child: Expression, idIndex: Int, cond: Expression)
    extends UnaryExpression with Generator with CodegenFallback {

  private def member: StructType =
    child.dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(s: StructType, _) if idIndex >= 0 && idIndex < s.length =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<struct> members with an id field at $idIndex, got $t")
  }

  override def elementSchema: StructType = StructType(
    member.fields.map(f => f.copy(name = f.name + "a")) ++
      member.fields.map(f => f.copy(name = f.name + "b")))

  override def prettyName: String = "bucket_pairs"

  @transient private lazy val pred: BasePredicate = {
    val p = Predicate.create(cond)
    p.initialize(0)
    p
  }

  @transient private lazy val toUnsafe = UnsafeProjection.create(member)

  @transient private lazy val byId: Ordering[InternalRow] = new InterpretedOrdering(Seq(
    SortOrder(BoundReference(idIndex, member(idIndex).dataType, nullable = true), Ascending)))

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val ms = child.eval(input).asInstanceOf[ArrayData]
    if (ms == null || ms.numElements() < 2) return Iterator.empty
    val width = member.length
    val rows = Array.tabulate(ms.numElements())(i => ms.getStruct(i, width) match {
      case u: UnsafeRow => u
      case r => toUnsafe(r).copy()
    })
    java.util.Arrays.sort(rows.asInstanceOf[Array[InternalRow]], byId)
    val pair = new BucketPairs.Pair(width)
    new Iterator[InternalRow] {
      private var i = 0
      private var j = 0
      private var found = false

      override def hasNext: Boolean = {
        while (!found && i < rows.length - 1) {
          j += 1
          if (j == rows.length) { i += 1; j = i }
          else {
            pair.a = rows(i)
            pair.b = rows(j)
            found = pred.eval(pair)
          }
        }
        found
      }

      override def next(): InternalRow = {
        if (!hasNext) throw new NoSuchElementException("bucket_pairs")
        found = false
        pair
      }
    }
  }

  override protected def withNewChildInternal(newChild: Expression): BucketPairs =
    copy(child = newChild)
}

private[graft] object BucketPairs {

  /** Member `a` then member `b` as one row: a [[JoinedRow]] of two
    * [[UnsafeRow]]s with the field split fixed, so the compiled predicate
    * reads both members through direct calls. JoinedRow dispatches on
    * whatever rows it joins across the JVM: q_simhash's band kernel, first
    * query of a fresh JVM on a 2 000-doc sample, took 1.36–1.44 task-s
    * through it and 0.98–1.13 through this (4 cores, 2 runs each). */
  private[functions] final class Pair(width: Int) extends InternalRow {
    var a: UnsafeRow = _
    var b: UnsafeRow = _

    override def numFields: Int = 2 * width
    override def isNullAt(i: Int): Boolean = if (i < width) a.isNullAt(i) else b.isNullAt(i - width)
    override def getBoolean(i: Int): Boolean = if (i < width) a.getBoolean(i) else b.getBoolean(i - width)
    override def getByte(i: Int): Byte = if (i < width) a.getByte(i) else b.getByte(i - width)
    override def getShort(i: Int): Short = if (i < width) a.getShort(i) else b.getShort(i - width)
    override def getInt(i: Int): Int = if (i < width) a.getInt(i) else b.getInt(i - width)
    override def getLong(i: Int): Long = if (i < width) a.getLong(i) else b.getLong(i - width)
    override def getFloat(i: Int): Float = if (i < width) a.getFloat(i) else b.getFloat(i - width)
    override def getDouble(i: Int): Double = if (i < width) a.getDouble(i) else b.getDouble(i - width)
    override def getDecimal(i: Int, p: Int, s: Int): Decimal =
      if (i < width) a.getDecimal(i, p, s) else b.getDecimal(i - width, p, s)
    override def getUTF8String(i: Int): UTF8String =
      if (i < width) a.getUTF8String(i) else b.getUTF8String(i - width)
    override def getBinary(i: Int): Array[Byte] = if (i < width) a.getBinary(i) else b.getBinary(i - width)
    override def getGeography(i: Int): GeographyVal =
      if (i < width) a.getGeography(i) else b.getGeography(i - width)
    override def getGeometry(i: Int): GeometryVal =
      if (i < width) a.getGeometry(i) else b.getGeometry(i - width)
    override def getInterval(i: Int): CalendarInterval =
      if (i < width) a.getInterval(i) else b.getInterval(i - width)
    override def getVariant(i: Int): VariantVal = if (i < width) a.getVariant(i) else b.getVariant(i - width)
    override def getStruct(i: Int, n: Int): InternalRow =
      if (i < width) a.getStruct(i, n) else b.getStruct(i - width, n)
    override def getArray(i: Int): ArrayData = if (i < width) a.getArray(i) else b.getArray(i - width)
    override def getMap(i: Int): MapData = if (i < width) a.getMap(i) else b.getMap(i - width)
    override def get(i: Int, t: DataType): AnyRef = if (i < width) a.get(i, t) else b.get(i - width, t)
    override def setNullAt(i: Int): Unit = throw new UnsupportedOperationException("read-only pair")
    override def update(i: Int, v: Any): Unit = throw new UnsupportedOperationException("read-only pair")
    override def copy(): InternalRow = new JoinedRow(a.copy(), b.copy())
  }

  /** The self-join of `rows` on the blocking columns `keys` under `cond`,
    * through the kernel, with the join's columns: every column of `rows`
    * leaves twice, suffixed `a` and `b`, and `cond` reads those names, as
    * a join condition would. One exchange ships the rows by key, as either
    * side of the join did; each key's rows are then collected into one
    * bucket, `collect_list(struct(…))`, in the same stage. (A map-side
    * partial collect ships the members as list buffers, which compress
    * worse than the rows: +51% bytes on q_simhash's band exchange.) The
    * kernel orders each pair by the `id` column. */
  def selfJoin(rows: DataFrame, keys: Seq[String], cond: Column): DataFrame = {
    val idIndex = rows.columns.indexOf("id")
    require(idIndex >= 0, s"no id column among ${rows.columns.mkString(", ")}")
    val (bound, notNull) = bind(rows, cond)
    val kept = notNull.map(c => col(c).isNotNull).reduceOption(_ && _).fold(rows)(rows.filter)
    val buckets = kept.repartition(keys.map(col): _*).groupBy(keys.map(col): _*)
      .agg(collect_list(struct(rows.columns.toSeq.map(col): _*)).as("members"))
    buckets.select(GraftShims.column(
      BucketPairs(GraftShims.expression(col("members")), idIndex, bound)))
  }

  /** `cond` resolved, folded and bound against the pair row (the fields of
    * `rows` suffixed `a`, then `b`), plus the columns it requires non-null
    * on both sides: the not-null constraints Catalyst infers from `cond`,
    * which the join pushed into both of its inputs. A row null there pairs
    * with nothing, so [[selfJoin]] drops it before the exchange, as the
    * join did, and the bound predicate reads those fields without a null
    * check (the checks were half the band kernel's samples). */
  private def bind(rows: DataFrame, cond: Column): (Expression, Seq[String]) = {
    val fields = rows.schema.fields
    val pair = StructType(fields.map(f => f.copy(name = f.name + "a")) ++
      fields.map(f => f.copy(name = f.name + "b")))
    val analyzed = rows.sparkSession.createDataFrame(java.util.List.of[Row](), pair)
      .select(cond).queryExecution.analyzed
    ConstantFolding(ReplaceExpressions(analyzed)) match {
      case Project(Seq(Alias(e, _)), relation) =>
        val out = relation.output
        val inferred = Filter(e, relation).constraints.collect { case IsNotNull(a: Attribute) => a.exprId }
        val notNull = fields.indices.filter(i =>
          inferred.contains(out(i).exprId) && inferred.contains(out(i + fields.length).exprId)).toSet
        val bound = BindReferences.bindReference(e, out).transform {
          case b: BoundReference if notNull(b.ordinal % fields.length) => b.copy(nullable = false)
        }
        (bound, notNull.toSeq.sorted.map(fields(_).name))
      case p => throw new IllegalStateException(s"unexpected pair-condition plan: $p")
    }
  }
}

package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, QueryPlan}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Automatic binned-rewrite of point-in-interval theta joins — the
  * SQL-surface twin of [[graft.operators.RangeJoin.pointInInterval]].
  *
  * An inner join whose condition is ONLY range predicates
  * (`p >= lo AND p <= hi`, any operand order, strict or not) has no equi
  * key, so Spark plans BroadcastNestedLoopJoin: every point row against
  * every interval row — quadratic, and the big side cannot even shuffle.
  * Databricks ships a range-join hint for exactly this; open-source Spark
  * has nothing. This rule rewrites the logical join when it is safe:
  *
  *   Join(P, I, p between lo..hi)
  *     ⇒ Project(orig output,
  *         Filter(original condition,          -- exact re-check
  *           Join(P + bin(p), explode(sequence(bin(lo), bin(hi))) over I,
  *                binP = binI)))               -- hash equi-join
  *
  * Bin ordinal = value/width by truncating division (monotonic, so an
  * interval covers exactly bins bin(lo)..bin(hi)); `sequence` is guarded
  * to an empty array for inverted (empty) intervals. Intervals wider than
  * `spark.graft.rangejoin.maxBinsPerInterval` bins (validity-range
  * sentinels like hi=MaxValue, or micros data under a days-width — which
  * would otherwise explode into millions of generated rows) take a
  * separate union branch that keeps the nested loop with the interval
  * side broadcast-hinted (few such rows by nature; the hint doubles as
  * the rule's convergence guard). Width comes from
  * `spark.graft.rangejoin.binWidth` (default 32 — near the typical
  * interval span so each interval lands in ~2 bins); rewrite toggles with
  * `spark.graft.rangejoin.enabled`, and an interval side whose estimated
  * size is under `spark.graft.rangejoin.skipBelowBytes` (default 1 KiB —
  * a handful of windows/bands) is left to the broadcast nested loop,
  * which is optimal at that size. Applies to date and integral types.
  * Joins that already carry ANY equi conjunct are left alone — they hash
  * join fine without help. Runs in the operator-optimization batch, so the
  * rewritten Generate/Join subtree still gets column pruning and the
  * filter pushdowns; convergence: the rewritten join is equi, so the rule
  * never re-matches it. */
object RewriteRangeJoin extends Rule[LogicalPlan] with PredicateHelper {

  private def binnable(dt: DataType): Boolean = dt match {
    case DateType | ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  private def toLong(e: Expression): Expression = e.dataType match {
    case DateType => Cast(UnixDate(e), LongType)
    case LongType => e
    case _ => Cast(e, LongType)
  }

  /** Auto bin width: the median interval span from a bounded sample of the
    * interval side, so the typical interval covers ~2 bins WHATEVER the
    * column's unit is — day-grain dates and epoch-micros longs both get a
    * sane width, where any fixed constant is off by orders of magnitude
    * for one of them.
    *
    * Memoized in the session's Store registry ([[graft.Store.rangeJoinWidth]])
    * per semantic hash of the interval side and of the bounds (bound to the
    * side's output ordinals, so a fresh read of an unchanged source hits)
    * and the modification time of the side's parquet source, so a source
    * rewritten at the same path derives its width again. The hashes keep
    * the memo from pinning plan trees; a collision only mis-sizes a
    * heuristic, since correctness is carried by the exact re-check Filter,
    * never by the width.
    *
    * Derivation order:
    *  1. DRIVER-SIDE parquet read: when both bounds resolve (through
    *     Project/Filter/SubqueryAlias) to root columns of a parquet
    *     [[HadoopFsRelation]], read ≤2001 rows of just those two columns
    *     striped across the first/middle/last lexicographic files with
    *     parquet-mr — no Spark job inside the optimizer, and
    *     deterministic (fixed files, fixed per-file cap, fixed row
    *     order). Footer min/max alone cannot estimate the span
    *     distribution (column extremes say nothing about per-row hi−lo),
    *     so the bounded row read is the honest stats source.
    *  2. Fallback Spark sample (LIMIT 2001 collect) for non-parquet or
    *     computed-bound interval sides — the only path that runs a job at
    *     planning time, and only on cache miss.
    *  3. Constant 32 if both fail. */
  private def deriveWidth(iSide: LogicalPlan, lo: Expression, hi: Expression): Long = {
    val source =
      try resolveToParquetScan(iSide, Seq(lo, hi))
      catch { case scala.util.control.NonFatal(_) => None }
    // a bound's canonical form keeps its attributes' exprIds, which every
    // fresh read of a source renews: bound them to iSide's output ordinals
    def bound(e: Expression) = QueryPlan.normalizeExpressions(e, iSide.output).semanticHash()
    val key = (iSide.semanticHash(), bound(lo), bound(hi),
      source.fold(0L) { case (fs, _) => modificationTime(fs) })
    graft.Store.rangeJoinWidth(org.apache.spark.sql.SparkSession.active, key) {
      parquetSampleWidth(source) match {
        case Some(w) => (w, true)
        case None => (sparkSampleWidth(iSide, lo, hi), false)
      }
    }
  }

  /** The latest modification time of the relation's root paths, or 0 when
    * one cannot be read. */
  private def modificationTime(
      fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation): Long =
    try {
      val conf = fs.sparkSession.sessionState.newHadoopConf()
      fs.location.rootPaths.map(p =>
        p.getFileSystem(conf).getFileStatus(p).getModificationTime).foldLeft(0L)(math.max)
    } catch { case scala.util.control.NonFatal(_) => 0L }

  private def medianWidth(spans: Seq[Long]): Option[Long] =
    if (spans.isEmpty) None
    else { val v = spans.sorted; Some(math.max(1L, v(v.length / 2) + 1L)) }

  /** Resolve `exprs` through Project/Filter/SubqueryAlias layers down to a
    * parquet scan; succeeds only when every expression lands on a plain
    * root-column [[AttributeReference]] of the relation. Rows behind a
    * Filter are sampled unfiltered — acceptable for a width heuristic. */
  private def resolveToParquetScan(plan: LogicalPlan, exprs: Seq[Expression])
      : Option[(org.apache.spark.sql.execution.datasources.HadoopFsRelation, Seq[String])] =
    plan match {
      case Project(projList, child) =>
        val subst = projList.collect {
          case a: Alias => a.toAttribute.exprId -> a.child
        }.toMap
        val next = exprs.map(_.transformUp {
          case ar: AttributeReference => subst.getOrElse(ar.exprId, ar)
        })
        resolveToParquetScan(child, next)
      case Filter(_, child) => resolveToParquetScan(child, exprs)
      case SubqueryAlias(_, child) => resolveToParquetScan(child, exprs)
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation match {
          case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation
              if fs.fileFormat.isInstanceOf[
                org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat] =>
            val names = exprs.map {
              case ar: AttributeReference if lr.output.exists(_.exprId == ar.exprId) =>
                ar.name
              case _ => return None
            }
            Some((fs, names))
          case _ => None
        }
      case _ => None
    }

  /** Driver-side bounded parquet read of the two bound columns — the
    * no-Spark-job width source. The ≤2001-row budget is STRIPED across up
    * to three files (first / middle / last, lexicographic): a file-sorted
    * dataset whose first file is unrepresentative (e.g. date-partitioned
    * data with monotone span growth) no longer collapses the width to the
    * first partition's spans. Still fully deterministic — fixed file
    * picks, fixed per-file row cap, file-order reads. Returns None
    * whenever the shape doesn't qualify, never throws. */
  private def parquetSampleWidth(source: Option[
      (org.apache.spark.sql.execution.datasources.HadoopFsRelation, Seq[String])]): Option[Long] =
    try {
      source.flatMap { case (fs, Seq(loName, hiName)) =>
        val files = fs.location.inputFiles.sorted
        if (files.isEmpty) return None
        val picks = Seq(0, files.length / 2, files.length - 1).distinct.map(files)
        val perFile = 2001 / picks.length // 2001 / 1000x2 / 667x3 rows
        val conf = fs.sparkSession.sessionState.newHadoopConf()
        val spans = scala.collection.mutable.ArrayBuffer.empty[Long]
        picks.foreach { f =>
          // per-file try: a corrupt/short/schema-divergent stripe member
          // degrades the sample, never the derivation
          try spans ++= fileSpans(f, conf, loName, hiName, perFile)
          catch { case scala.util.control.NonFatal(_) => () }
        }
        medianWidth(spans.toSeq)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Read up to `limit` rows of the two bound columns from one parquet
    * file; empty when the columns aren't plain INT32/INT64 roots there. */
  private def fileSpans(file: String, conf: org.apache.hadoop.conf.Configuration,
      loName: String, hiName: String, limit: Int): Seq[Long] = {
    val path = new org.apache.hadoop.fs.Path(file)
    val inFile = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(path, conf)
    val fileSchema = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(inFile)
      try r.getFooter.getFileMetaData.getSchema finally r.close()
    }
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.{INT32, INT64}
    def rootPrim(n: String): Option[org.apache.parquet.schema.Type] =
      if (fileSchema.containsField(n)) {
        val t = fileSchema.getFields.get(fileSchema.getFieldIndex(n))
        if (t.isPrimitive && {
          val p = t.asPrimitiveType.getPrimitiveTypeName
          p == INT32 || p == INT64
        }) Some(t) else None
      } else None
    (rootPrim(loName), rootPrim(hiName)) match {
      case (Some(loT), Some(hiT)) =>
        val fields =
          if (loName == hiName) Seq(loT) else Seq(loT, hiT)
        val proj = new org.apache.parquet.schema.MessageType(
          "graft_span_sample", fields: _*)
        val readConf = new org.apache.hadoop.conf.Configuration(conf)
        readConf.set(
          org.apache.parquet.hadoop.api.ReadSupport.PARQUET_READ_SCHEMA, proj.toString)
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(), path)
          .withConf(readConf).build()
        try {
          def num(g: org.apache.parquet.example.data.Group,
              n: String, t: org.apache.parquet.schema.Type): Long =
            if (t.asPrimitiveType.getPrimitiveTypeName == INT32)
              g.getInteger(n, 0).toLong
            else g.getLong(n, 0)
          val spans = scala.collection.mutable.ArrayBuffer.empty[Long]
          var read = 0
          var g = reader.read()
          while (g != null && read < limit) {
            if (g.getFieldRepetitionCount(loName) > 0 &&
                g.getFieldRepetitionCount(hiName) > 0) {
              val s = num(g, hiName, hiT) - num(g, loName, loT)
              if (s >= 0) spans += s
            }
            read += 1
            g = reader.read()
          }
          spans.toSeq
        } finally reader.close()
      case _ => Nil
    }
  }

  /** Fallback: bounded Spark sample (the one planning-time job). */
  private def sparkSampleWidth(
      iSide: LogicalPlan, lo: Expression, hi: Expression): Long =
    try {
      val sess = org.apache.spark.sql.SparkSession.active
      val span = Alias(Subtract(toLong(hi), toLong(lo)), "__graft_span")()
      val df = org.apache.spark.sql.GraftPlanBridge.ofRows(sess,
        Project(Seq(span), iSide))
      val vals = df.where(df.col("__graft_span").geq(0)).limit(2001)
        .collect().map(_.getLong(0)).toSeq
      medianWidth(vals).getOrElse(32L)
    } catch { case scala.util.control.NonFatal(_) => 32L }

  /** (point, lowerBound, upperBound, pointOnLeft) if the conjuncts contain a
    * complete, side-separable range sandwich on a binnable column. */
  private def findRange(conjuncts: Seq[Expression], l: LogicalPlan,
      r: LogicalPlan): Option[(Expression, Expression, Expression, Boolean)] = {
    def sideOf(e: Expression): Option[Boolean] =
      if (e.references.isEmpty) None
      else if (e.references.subsetOf(l.outputSet)) Some(true)
      else if (e.references.subsetOf(r.outputSet)) Some(false)
      else None
    // normalize each comparison to (point, bound, isLower)
    val cands = conjuncts.flatMap {
      case GreaterThanOrEqual(a, b) => Seq((a, b, true), (b, a, false))
      case GreaterThan(a, b) => Seq((a, b, true), (b, a, false))
      case LessThanOrEqual(a, b) => Seq((a, b, false), (b, a, true))
      case LessThan(a, b) => Seq((a, b, false), (b, a, true))
      case _ => Nil
    }.filter { case (p, bnd, _) =>
      p.deterministic && bnd.deterministic && binnable(p.dataType) &&
        binnable(bnd.dataType) &&
        (for (ps <- sideOf(p); bs <- sideOf(bnd)) yield ps != bs).getOrElse(false)
    }
    val pairs = for {
      (p1, lo, true) <- cands
      (p2, hi, false) <- cands
      if p1.semanticEquals(p2)
    } yield (p1, lo, hi, sideOf(p1).get)
    pairs.headOption
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf.getConfString("spark.graft.rangejoin.enabled", "true") != "true") return plan
    // "auto" (the default) derives the width from the interval-span
    // distribution per join; an explicit number pins it
    val widthConf = conf.getConfString("spark.graft.rangejoin.binWidth", "auto")
    plan.transform {
      case j @ Join(l, r, Inner, Some(cond), hint) if j.resolved &&
          // an explicit per-side strategy hint (broadcast(dims) is the
          // common one for deliberately tiny interval sides) is the
          // author saying they know the physical shape they want —
          // honor it
          hint.leftHint.forall(_.strategy.isEmpty) &&
          hint.rightHint.forall(_.strategy.isEmpty) =>
        val conjuncts = splitConjunctivePredicates(cond)
        def sidedEqui(a: Expression, b: Expression): Boolean =
          (a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet) &&
            a.references.nonEmpty && b.references.nonEmpty) ||
          (b.references.subsetOf(l.outputSet) && a.references.subsetOf(r.outputSet) &&
            a.references.nonEmpty && b.references.nonEmpty)
        val hasEqui = conjuncts.exists {
          case EqualTo(a, b) => sidedEqui(a, b)
          // <=> is also a hash-join key — the join needs no rescue
          case EqualNullSafe(a, b) => sidedEqui(a, b)
          case _ => false
        }
        if (hasEqui) j
        else findRange(conjuncts, l, r) match {
          case Some((point, lo, hi, pointOnLeft)) =>
            val (pSide, iSide) = if (pointOnLeft) (l, r) else (r, l)
            // a truly tiny interval side (a handful of windows/bands) is
            // BEST served by the broadcast nested loop Spark already
            // plans — each probe row scans only those few rows. Rewrite
            // only when the interval side is big enough that the per-row
            // scan hurts. (Checked BEFORE width derivation so skipped
            // joins never pay the sampling job.)
            val skipBelow = BigInt(conf.getConfString(
              "spark.graft.rangejoin.skipBelowBytes", "1024"))
            if (iSide.stats.sizeInBytes <= skipBelow) j
            else {
            val width =
              if (widthConf == "auto") deriveWidth(iSide, lo, hi)
              else widthConf.toLong
            def bin(e: Expression): Expression =
              IntegralDivide(toLong(e), Literal(width))
            val pBin = Alias(bin(point), "__graft_bin_p")()
            val pPlan = Project(pSide.output :+ pBin, pSide)
            val binLo = bin(lo)
            val binHi = bin(hi)
            // a WIDE interval (validity-range sentinels like
            // hi = Long.MaxValue, or a caller binning microseconds with a
            // days-sized width) must NOT explode into millions/2^58 bins:
            // intervals past maxBinsPerInterval take the ORIGINAL
            // nested-loop path in a separate union branch (there are
            // normally few of them — sentinels and outliers), everything
            // else gets the equi-join
            val maxBins = Literal(conf.getConfString(
              "spark.graft.rangejoin.maxBinsPerInterval", "256").toLong)
            val spanOk = LessThanOrEqual(Subtract(binHi, binLo), maxBins)
            val ivalNarrow = Filter(spanOk, iSide)
            val ivalWide = Filter(Not(spanOk), iSide)
            // Sequence is TimeZoneAware: without a timeZoneId it reports
            // unresolved even over pure BIGINT operands
            val seqE = Sequence(binLo, binHi, Some(Literal(1L)),
              Some(conf.sessionLocalTimeZone))
            // the empty-array branch must carry the exact same data type
            // (incl. containsNull=false) or If stays unresolved
            val seq = If(LessThanOrEqual(binLo, binHi),
              seqE, Literal.create(Seq.empty[Long], seqE.dataType))
            val gOut = AttributeReference("__graft_bin_i", LongType, nullable = false)()
            val gen = Generate(Explode(seq), Nil, outer = false, None, Seq(gOut), ivalNarrow)
            val (nl, nr) =
              if (pointOnLeft) (pPlan: LogicalPlan, gen: LogicalPlan)
              else (gen: LogicalPlan, pPlan: LogicalPlan)
            val equiJoin = Join(nl, nr, Inner,
              Some(EqualTo(pBin.toAttribute, gOut)), hint)
            val binned = Project(j.output, Filter(cond, equiJoin))
            // the wide branch keeps the nested loop, with an explicit
            // BROADCAST hint on its (few-sentinel-rows) interval side:
            // the hint IS the convergence guard — this rule skips hinted
            // joins, so the fixed-point batch never re-matches the branch
            val bHint = HintInfo(strategy = Some(BROADCAST))
            val wideJoin =
              if (pointOnLeft)
                Join(l, ivalWide, Inner, Some(cond),
                  JoinHint(hint.leftHint, Some(bHint)))
              else
                Join(ivalWide, r, Inner, Some(cond),
                  JoinHint(Some(bHint), hint.rightHint))
            // a NULL-bound interval lands in neither branch (spanOk is
            // null) — correct, its join condition could never be true
            Union(Seq(binned, Project(j.output, wideJoin)), false, false)
            }
          case None => j
        }
    }
  }
}

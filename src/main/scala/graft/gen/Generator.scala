package graft.gen

import graft.ddl.{DdlParser, TableDef}
import graft.rules.{Rule, RuleInference}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Table-level generator: one deterministic DataFrame per TableDef.
  *
  * Replaces the reference's row-at-a-time loop (run_engine.py:239-259)
  * with a single declarative plan: `spark.range(n)` → one compiled
  * Column per column. Dispatch (FK → keyword → type default,
  * run_engine.py:155-203) happens once at plan-build time.
  *
  * Column-handling semantics mirrored from the reference:
  *  - identity/computed columns are never generated (run_engine.py:243);
  *    identity gets `id+1` — the value the DB sequence would assign;
  *  - unsafe types (varbinary, rowversion) are excluded from generation
  *    and emitted as NULL (run_engine.py:105);
  *  - SKIP_COLS are emitted as NULL (run_engine.py:25,244);
  *  - keyword output is coerced when the column is numeric
  *    (run_engine.py:171-174) — here via try_cast + type-default fallback;
  *  - char-family values are truncated to the declared length
  *    (run_engine.py:252-253), nvarchar(max) → 100 (run_engine.py:198).
  */
object Generator {

  val SkipCols: Set[String] =
    Set("LogId", "CreateDate", "CreatedBy", "UpdateDate", "UpdatedBy")

  /** Generate `rowCount` deterministic rows for `td`.
    *
    * @param parentKeys   FK parent → sampled key values (≤1000, broadcast
    *                     as an array literal — the ID_CACHE equivalent)
    * @param configRules  optional data_rules.json-style rules; when absent
    *                     rules are inferred (KEYWORD_MAP + type defaults)
    */
  def tableDf(spark: SparkSession, td: TableDef, rowCount: Long, seed: Long,
      parentKeys: Map[String, Seq[Any]] = Map.empty,
      configRules: Option[Map[String, Rule]] = None): DataFrame = {

    val fkByCol: Map[String, String] = td.fks.map(f => f.column -> f.refTable).toMap

    val cols: Seq[Column] = td.schema.fields.toIndexedSeq.map { f =>
      val md = f.metadata
      val identity = md.getBoolean(DdlParser.MetaIdentity)
      val safe = md.getBoolean(DdlParser.MetaSafe)
      val out: Column =
        if (identity) (col("id") + 1).cast(f.dataType)
        else if (!safe || SkipCols.contains(f.name)) lit(null).cast(f.dataType)
        else {
          val rule = configRules.flatMap(_.get(f.name)) match {
            case Some(Rule.ForeignKey(p)) => Rule.ForeignKey(p)
            case Some(r) if !fkByCol.contains(f.name) => r
            // FK constraint always wins over a config rule (precedence
            // run_engine.py:155-159)
            case Some(_) => Rule.ForeignKey(fkByCol(f.name))
            case None => RuleInference.infer(f, fkByCol.get(f.name))
          }
          val ctx = RuleCompiler.Ctx(seed, td.name, f.name, f, parentKeys)
          finalize(RuleCompiler.compile(rule, ctx), ctx, rule)
        }
      out.as(f.name)
    }
    // right-size the id-space partitioning: ~100k rows per partition,
    // capped at the cluster parallelism — metadata-sized tables get one
    // task instead of defaultParallelism near-empty ones
    val parts = math.max(1, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      (rowCount + 99999) / 100000).toInt)
    spark.range(0, rowCount, 1, parts).select(cols: _*)
  }

  /** Does the rule emit a numeric value or all-digit string — i.e. can it
    * be coerced into a numeric column the way the reference coerces via
    * `int(val)` (run_engine.py:171-174)? Decided at compile time from the
    * rule kind (we know the plan; no runtime try/except needed). */
  private def numericish(rule: Rule): Boolean = rule match {
    case _: Rule.Numerify | Rule.PhoneNumber | _: Rule.RandomInt |
         Rule.PriceUniform | _: Rule.PyFloat => true
    case _ => false
  }

  /** Coercion + truncation + final cast to the field's Catalyst type.
    *
    * ANSI-safe by construction (Spark 4 runs ANSI mode): values that
    * cannot be represented in the target type never reach a throwing
    * cast — range guards + type-default fallback replace the reference's
    * "insert and let the table error out" tolerance (run_engine.py:268).
    */
  private def finalize(value: Column, ctx: RuleCompiler.Ctx, rule: Rule): Column = {
    val f = ctx.field
    val sqlType = f.metadata.getString(DdlParser.MetaSqlType)
    val declaredLen = f.metadata.getLong(DdlParser.MetaMaxLength).toInt
    def fallback: Column = typeFallback(ctx, sqlType)
    val isTypeDefault = rule.isInstanceOf[Rule.TypeDefault]

    f.dataType match {
      case StringType =>
        // a uniqueidentifier declares no length, yet holds at most a
        // 36-character GUID — a keyword rule (e.g. a sentence for
        // `AciklamaId`) must not outgrow it
        val len = if (declaredLen == -1) 100
          else if (sqlType == "uniqueidentifier") 36 else declaredLen
        val s = value.cast(StringType)
        if (len > 0) substring(s, 1, len) else s

      case dt: DecimalType =>
        if (isTypeDefault) value.cast(dt)
        else if (numericish(rule)) {
          // digit strings / numerics; guard magnitude before the cast
          val d = value.cast(DecimalType(38, dt.scale))
          val limit = math.pow(10, (dt.precision - dt.scale).toDouble)
          when(abs(d) < lit(limit), d.cast(dt)).otherwise(fallback.cast(dt))
        } else fallback.cast(dt)

      case it @ (IntegerType | LongType | ShortType) =>
        if (isTypeDefault || rule.isInstanceOf[Rule.ForeignKey]) value.cast(it)
        else if (numericish(rule)) {
          val d = value.cast(DecimalType(38, 0))
          val max = it match {
            case ShortType => Short.MaxValue.toLong
            case IntegerType => Int.MaxValue.toLong
            case _ => Long.MaxValue
          }
          when(abs(d) <= lit(max), d.cast(it)).otherwise(fallback.cast(it))
        } else fallback.cast(it)

      case FloatType | DoubleType =>
        if (isTypeDefault || numericish(rule)) value.cast(f.dataType)
        else fallback.cast(f.dataType)

      case BooleanType =>
        if (rule == Rule.BooleanRule || isTypeDefault) value
        else fallback

      case DateType =>
        if (rule == Rule.DateThisDecade || isTypeDefault) value.cast(DateType)
        else fallback.cast(DateType)

      case TimestampType =>
        if (rule == Rule.DateThisDecade || isTypeDefault) value.cast(TimestampType)
        else fallback.cast(TimestampType)

      case dt => value.cast(dt)
    }
  }

  private def typeFallback(ctx: RuleCompiler.Ctx, sqlType: String): Column = {
    val f = ctx.field
    RuleCompiler.compile(
      Rule.TypeDefault(sqlType,
        f.metadata.getLong(DdlParser.MetaPrecision).toInt,
        f.metadata.getLong(DdlParser.MetaScale).toInt,
        f.metadata.getLong(DdlParser.MetaMaxLength).toInt), ctx)
  }
}

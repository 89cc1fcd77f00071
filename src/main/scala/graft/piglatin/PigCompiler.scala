package graft.piglatin

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Ast._

/** Compiles Pig Latin statements to Catalyst plans.
  *
  * The reference emits Scala-RDD source per operator at compile time
  * (reference: src/main/scala/dbis/piglet/codegen); graft instead folds
  * each statement into a single lazy DataFrame plan, so Catalyst sees the
  * WHOLE script at once — filters written after joins still push below
  * them, projections prune the load, and AQE re-plans the physical joins.
  *
  * Key rewrite (the Catalyst-native version of the reference's textual
  * `plan/rewriting/Rules.scala`): `GROUP` produces a *lazy* grouped
  * relation; a `FOREACH` consuming only `group` + aggregates compiles to
  * `groupBy().agg()` — partial aggregation, no bag ever materializes.
  * Only a FOREACH/STORE that truly consumes the bag triggers
  * `collect_list`.
  */
class PigCompiler(spark: SparkSession) {

  /** A named relation: the materialized plan, plus (if produced by GROUP)
    * the lazy grouped form that aggregate-consumers fuse into. */
  final case class Rel(df: () => DataFrame,
                       grouped: Option[GroupedRel] = None)
  final case class GroupedRel(input: DataFrame, keys: Seq[Column],
                              keyIsStruct: Boolean, bagName: String,
                              keyExprs: Seq[Expr] = Nil)

  private val env = scala.collection.mutable.LinkedHashMap.empty[String, Rel]
  /** TOKENIZE_DOCS … USING bpe merge tables, memoized per (resolved
    * input plan, field, params) — Rel thunks re-evaluate per reference
    * and training must not re-run per DUMP/STORE of the same alias. The
    * key is the CANONICALIZED logical plan of the input, not the alias
    * name: Pig scripts may rebind an alias, and an alias-keyed memo
    * would silently serve merge tables trained on the old relation's
    * data to a tokenize over the rebound one. */
  private val bpeMergeMemo = scala.collection.mutable.Map
    .empty[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, String, String),
      Seq[(String, String)]]
  /** side-effect outputs of STORE statements: path → df */
  val stored = scala.collection.mutable.LinkedHashMap.empty[String, DataFrame]
  /** registered Scala table functions for STREAM THROUGH */
  val udos = scala.collection.mutable.Map.empty[String, DataFrame => DataFrame]
  /** STREAM THROUGH operators that take constructor arguments
    * (`b = STREAM a THROUGH op('0.5');`) */
  val udosWithArgs = scala.collection.mutable.Map
    .empty[String, (Seq[String], DataFrame) => DataFrame]
  /** scalar fns from embedded `<% %>` Scala blocks (by UPPER name) */
  val embeddedUdfs = scala.collection.mutable.Map
    .empty[String, EmbeddedCode.EmbeddedFn]

  def relation(alias: String): DataFrame =
    env.getOrElse(alias, sys.error(s"unknown alias $alias")).df()

  def defineRelation(alias: String, df: DataFrame): Unit =
    env(alias) = Rel(() => df)

  def registerUdo(name: String, f: DataFrame => DataFrame): Unit =
    udos(name.toUpperCase) = f

  def registerUdo(name: String,
                  f: (Seq[String], DataFrame) => DataFrame): Unit =
    udosWithArgs(name.toUpperCase) = f

  // ---- type mapping --------------------------------------------------------
  private def sparkType(t: String): DataType = t match {
    case "int" => IntegerType
    case "long" => LongType
    case "float" => FloatType
    case "double" => DoubleType
    case "chararray" => StringType
    case "bytearray" => BinaryType
    case "boolean" => BooleanType
    case "datetime" => TimestampType
    case "map" => MapType(StringType, StringType)
    case _ => StringType
  }

  /** Marks a column whose chararray type was DECLARED in an AS schema —
    * distinguishes it from schema-less loads' default string columns,
    * which Pig treats as bytearray (numeric '+' coercion). */
  private val chararrayMeta =
    new org.apache.spark.sql.types.MetadataBuilder()
      .putBoolean("pig.chararray", true).build()

  private def declaredChararray(df: DataFrame, e: Expr): Boolean = e match {
    case FieldRef(p) =>
      val cols = df.columns
      def named(n: String): Option[String] = cols.find(_ == n).orElse {
        val s = cols.filter(_.endsWith(s"::${n}"))
        if (s.length == 1) Some(s.head) else None
      }
      named(p.mkString("::")).orElse(if (p.length == 1) None else named(p.head))
        .exists { c =>
          val f = df.schema(c)
          f.dataType == StringType && f.metadata.contains("pig.chararray")
        }
    case PosRef(i) if i < df.schema.length =>
      val f = df.schema.fields(i)
      f.dataType == StringType && f.metadata.contains("pig.chararray")
    case CastExpr("chararray", _) => true
    case _ => false
  }

  // ---- column resolution ---------------------------------------------------
  /** Resolve a dotted path against a schema: exact column; unique
    * `alias::name` suffix; struct field access; bag (array<struct>)
    * projection via transform. */
  private def resolve(df: DataFrame, path: Seq[String]): Column = {
    val cols = df.columns
    def colNamed(n: String): Option[String] =
      cols.find(_ == n).orElse {
        val suffix = cols.filter(c => c.endsWith(s"::${n}"))
        if (suffix.length == 1) Some(suffix.head) else None
      }
    // longest prefix of the path that names a column (handles a::b refs
    // arriving as FieldRef(Seq(a, b)))
    val joined = path.mkString("::")
    colNamed(joined) match {
      case Some(c) => col(s"`$c`")
      case None =>
        colNamed(path.head) match {
          case Some(head) =>
            val base = col(s"`$head`")
            val dt = df.schema(head).dataType
            dt match {
              case ArrayType(_: StructType, _) if path.length > 1 =>
                // bag projection: daily.symbol → array of field values
                path.tail.foldLeft(base)((c, f) => transform(c, _.getField(f)))
              case _ => path.tail.foldLeft(base)(_.getField(_))
            }
          case None => sys.error(
            s"cannot resolve field ${path.mkString(".")} among ${cols.mkString(",")}")
        }
    }
  }

  private val aggFns = Set("COUNT", "SUM", "AVG", "MIN", "MAX", "MEDIAN", "COUNT_STAR")

  // ---- expression compilation (row context) --------------------------------
  def compileExpr(df: DataFrame, e: Expr): Column = e match {
    case FieldRef(p) => resolve(df, p)
    case PosRef(i) => col(s"`${df.columns(i)}`")
    case Lit(null) => lit(null)
    case Lit(v) => lit(v)
    case Neg(x) => -compileExpr(df, x)
    case Not(x) => !compileExpr(df, x)
    case IsNull(x, false) => compileExpr(df, x).isNull
    case IsNull(x, true) => compileExpr(df, x).isNotNull
    case CastExpr(t, x) => compileExpr(df, x).cast(sparkType(t))
    case Star => struct(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
    case Flatten(x) => compileExpr(df, x) // handled structurally in FOREACH
    case BinOp(op, l, r) =>
      val (a, b) = (compileExpr(df, l), compileExpr(df, r))
      op match {
        case "and" => a && b
        case "or" => a || b
        case "==" => a === b
        case "!=" => a =!= b
        case "<" => a < b
        case "<=" => a <= b
        case ">" => a > b
        case ">=" => a >= b
        case "matches" =>
          // Pig MATCHES is String.matches — anchored full-string match.
          // Non-literal patterns (a column holding the regex) compile to
          // a per-row regexp_like instead of a ClassCastException
          r match {
            case Lit(v) => a.rlike("^(?:" + v.toString + ")$")
            case _ => regexp_like(a,
              concat(lit("^(?:"), b.cast(StringType), lit(")$")))
          }
        case "+" =>
          // piglet types '+' statically: a chararray LITERAL anywhere in
          // the '+' chain makes the whole chain string concatenation
          // (reference spatialfilter.pig: "POINT("+lat+" "+lon+")" — the
          // later `+ lon` steps see no literal directly, so the test must
          // recurse); numeric otherwise. Untyped (bytearray) fields stay
          // numeric, matching Pig's bytearray arithmetic coercion
          // (macro1.pig's $0 + $p) — including schema-less loads, whose
          // string-typed columns must NOT flip '+' to concat. Two
          // DECLARED chararray fields (AS clause, tracked via column
          // metadata) also concat, as piglet's static typing would.
          def chainHasStrLit(x: Expr): Boolean = x match {
            case Lit(_: String) => true
            case BinOp("+", cl, cr) => chainHasStrLit(cl) || chainHasStrLit(cr)
            case _ => false
          }
          if (chainHasStrLit(l) || chainHasStrLit(r) ||
              (declaredChararray(df, l) && declaredChararray(df, r)))
            concat(a.cast(StringType), b.cast(StringType))
          else numericize(df, a) + numericize(df, b)
        case "-" => numericize(df, a) - numericize(df, b)
        case "*" => numericize(df, a) * numericize(df, b)
        case "/" => numericize(df, a) / numericize(df, b)
        case "%" => numericize(df, a) % numericize(df, b)
      }
    case FuncCall(name, args) => compileFunc(df, name, args)
  }

  /** Pig's bytearray arithmetic coercion: a string-typed operand of a
    * numeric operator casts to double, with non-numeric values becoming
    * null (Pig warns-and-nulls; ANSI `string op string` would fail
    * analysis outright, and an ANSI implicit cast would THROW on the
    * first non-numeric row instead of nulling it — hence try_cast). */
  private def numericize(df: DataFrame, c: Column): Column =
    df.select(c).schema.head.dataType match {
      case StringType => c.try_cast(DoubleType)
      case _ => c
    }

  private def expr_tail(c: Column): Column = c.substr(lit(2), length(c) - 1)

  private def compileFunc(df: DataFrame, name: String, args: Seq[Expr]): Column = {
    import graft.functions.PigFunctions
    def a0 = compileExpr(df, args.head)
    name match {
      // scalar builtins (reference: sparklib PigFuncs.scala, udf/UDF.scala)
      case "TOKENIZE" => PigFunctions.TOKENIZE(a0)
      // HTML layer (graft dialect): boilerplate extraction over crawl text
      case "EXTRACT_TEXT" => graft.text.Html.extractText(a0)
      case "COMPRESSION_RATIO" => graft.text.TextOps.compressionRatio(a0)
      case "FIX_MOJIBAKE" => graft.text.TextOps.fixMojibake(a0)
      case "CANONICAL_URL" => graft.text.Url.canonicalizeUrl(a0)
      // multi-pattern literal scan: MATCH_ANY(col, 'p1', 'p2', ...) /
      // MATCH_COUNT(col, 'p1', ...) — one Aho–Corasick pass per row
      case "MATCH_ANY" => graft.text.MultiMatch.matchAny(a0,
        args.tail.map(_.asInstanceOf[Lit].v.toString))
      case "MATCH_COUNT" => graft.text.MultiMatch.matchCount(a0,
        args.tail.map(_.asInstanceOf[Lit].v.toString))
      // robots.txt fetch-permission: ROBOTS_ALLOWED(path, robots[, agent])
      case "ROBOTS_ALLOWED" => graft.text.Robots.isAllowed(a0,
        compileExpr(df, args(1)),
        if (args.length > 2) args(2).asInstanceOf[Lit].v.toString else "*")
      // crawl-policy metadata: SITEMAPS(robots) / CRAWL_DELAY(robots[, agent])
      case "SITEMAPS" => graft.text.Robots.sitemaps(a0)
      case "CRAWL_DELAY" => graft.text.Robots.crawlDelay(a0,
        if (args.length > 1) args(1).asInstanceOf[Lit].v.toString else "*")
      // content-defined chunking: CDC_CHUNKS(col[, min, maskBits, max])
      case "CDC_CHUNKS" =>
        require(args.length == 1 || args.length == 4,
          s"CDC_CHUNKS takes (col) or (col, min, maskBits, max) — " +
            s"got ${args.length} argument(s)")
        if (args.length == 1) graft.dedup.Cdc.chunks(a0)
        else graft.dedup.Cdc.chunks(a0,
          args(1).asInstanceOf[Lit].v.toString.toInt,
          args(2).asInstanceOf[Lit].v.toString.toInt,
          args(3).asInstanceOf[Lit].v.toString.toInt)
      case "HTML_LINKS" => graft.text.Html.links(a0)
      case "LINK_DENSITY" => graft.text.Html.linkDensity(a0)
      case "STRSPLIT" => split(a0, args(1).asInstanceOf[Lit].v.toString)
      case "LOWER" => lower(a0)
      case "UPPER" => upper(a0)
      case "LCFIRST" => concat(lower(substring(a0, 1, 1)), expr_tail(a0))
      case "UCFIRST" => concat(upper(substring(a0, 1, 1)), expr_tail(a0))
      case "TRIM" => trim(a0)
      case "CONCAT" => concat(args.map(compileExpr(df, _)): _*)
      case "STRLEN" => length(a0)
      case "SIZE" =>
        // Pig SIZE is polymorphic (returns long): element count for
        // bags/maps, field count for tuples, length for chararray —
        // a bare length() rejects array inputs at analysis time
        df.select(a0).schema.head.dataType match {
          case _: ArrayType | _: MapType => size(a0).cast(LongType)
          case st: StructType => lit(st.size.toLong)
          case _ => length(a0).cast(LongType)
        }
      case "SUBSTRING" =>
        val s = args(1).asInstanceOf[Lit].v.toString.toInt
        val e = args(2).asInstanceOf[Lit].v.toString.toInt
        PigFunctions.SUBSTRING(a0, s, e)
      case "STARTSWITH" => a0.startsWith(compileExpr(df, args(1)))
      case "ENDSWITH" => a0.endsWith(compileExpr(df, args(1)))
      case "STRCONTAINS" => a0.contains(compileExpr(df, args(1)))
      case "INDEXOF" => instr(a0, args(1).asInstanceOf[Lit].v.toString) - 1
      case "REPLACE" => regexp_replace(a0,
        args(1).asInstanceOf[Lit].v.toString, args(2).asInstanceOf[Lit].v.toString)
      case "ABS" => abs(a0)
      case "ROUND" => round(a0)
      case "CEIL" => ceil(a0)
      case "FLOOR" => floor(a0)
      case "SQRT" => sqrt(a0)
      case "EXP" => exp(a0)
      case "LOG" => log(a0)
      case "LOG10" => log10(a0)
      case "POW" => pow(a0, compileExpr(df, args(1)))
      case "RANDOM" => rand(42L)
      case "TODOUBLE" => a0.cast(DoubleType)
      case "TOINT" => a0.cast(IntegerType)
      case "TOLONG" => a0.cast(LongType)
      case "TOSTRING" => a0.cast(StringType)
      case "TOMAP" => map(args.map(compileExpr(df, _)): _*)
      case "ISEMPTY" => size(a0) === 0
      case "NONEMPTY" => size(a0) > 0
      // constructors: (e1,e2) / {e1,e2} / [k,v,...] (reference construct.pig)
      case "TOTUPLE" => struct(args.map(compileExpr(df, _)): _*)
      case "TOBAG" => array(args.map(compileExpr(df, _)): _*)
      // geometry + matrix constructors (reference spatial / matrix dialect)
      case "GEOMETRY" => graft.spatial.Spatial.wktPoint(a0)
      case "DDMATRIX" | "DIMATRIX" | "SDMATRIX" | "SIMATRIX" =>
        // piglet's matrix constructor takes the value bag in COLUMN-major
        // order (Breeze's layout — reference truth/simple-matrix-res.data);
        // graft's matrix struct is row-major, so permute at construction
        val rows = compileExpr(df, args(0)).cast(IntegerType)
        val cols = compileExpr(df, args(1)).cast(IntegerType)
        val cm = compileExpr(df, args(2))
        // sequence(0, -1) would yield [0, -1] (negative default step), so
        // a zero-dimension matrix must short-circuit to an empty array
        val rm = when(rows * cols === 0,
            array().cast(ArrayType(DoubleType)))
          .otherwise(transform(sequence(lit(0), rows * cols - 1), idx =>
            element_at(cm,
              (pmod(idx, cols) * rows + (idx / cols).cast(IntegerType) + 1)
                .cast(IntegerType))))
        graft.matrix.MatrixOps.matrix(rows, cols, rm)
      // aggregate names appearing in ROW context = bag functions on arrays
      case "COUNT" => size(a0).cast(LongType)
      // Pig SUM/AVG IGNORE null elements: filter first (a naive fold
      // would null-poison the sum, and AVG's denominator must count
      // only non-null values)
      case "SUM" =>
        aggregate(filter(a0, x => x.isNotNull), lit(0.0),
          (acc, x) => acc + x.cast(DoubleType))
      case "AVG" =>
        val nn = filter(a0, x => x.isNotNull)
        aggregate(nn, lit(0.0), (acc, x) => acc + x.cast(DoubleType)) / size(nn)
      case "MIN" => array_min(a0)
      case "MAX" => array_max(a0)
      case "DISTINCT" => array_distinct(a0)
      case other =>
        embeddedUdfs.get(other) match {
          case Some(fn) =>
            EmbeddedCode.asColumn(fn, args.map(compileExpr(df, _)))
          case None => sys.error(s"unknown function $other")
        }
    }
  }

  /** Does the expr reference only bag-qualified fields / literals? */
  private def refsBagOnly(g: GroupedRel, e: Expr): Boolean = e match {
    case FieldRef(p) => p.headOption.contains(g.bagName) && p.length > 1
    case Lit(_) => true
    case BinOp(_, l, r) => refsBagOnly(g, l) && refsBagOnly(g, r)
    case Neg(x) => refsBagOnly(g, x)
    case CastExpr(_, x) => refsBagOnly(g, x)
    case _ => false
  }

  /** Rewrite bag.field refs to input columns and compile as a row expr. */
  private def rowExprOverInput(g: GroupedRel, e: Expr): Column = {
    def strip(x: Expr): Expr = x match {
      case FieldRef(p) if p.headOption.contains(g.bagName) => FieldRef(p.tail)
      case BinOp(op, l, r) => BinOp(op, strip(l), strip(r))
      case Neg(y) => Neg(strip(y))
      case CastExpr(t, y) => CastExpr(t, strip(y))
      case other => other
    }
    compileExpr(g.input, strip(e))
  }

  /** Aggregate-context compilation: FOREACH over a lazily-grouped input.
    * `bagName` refs route to input columns; COUNT(bag) → count(*). */
  private def compileAgg(g: GroupedRel, e: Expr, as: Option[String]): Column = {
    val in = g.input
    def inner(x: Expr): Column = x match {
      // `group` (constant within each group) inside arithmetic:
      // first() is exact and keeps the agg fusion
      case FieldRef(Seq("group")) if g.keys.nonEmpty =>
        first(if (g.keyIsStruct) struct(g.keys: _*) else g.keys.head)
      case FieldRef(Seq("group", f)) if g.keyIsStruct =>
        first(struct(g.keys: _*)).getField(f)
      case FuncCall(fn, Seq(FieldRef(Seq(b)))) if b == g.bagName && fn == "COUNT" =>
        count(lit(1))
      // Pig's single-field-relation idiom: SUM(a)/MIN(a)/... when the
      // bag's tuples have exactly one field
      case FuncCall(fn, Seq(FieldRef(Seq(b))))
          if b == g.bagName && aggFns(fn) && fn != "COUNT_STAR" =>
        require(in.columns.length == 1,
          s"$fn($b): the bag has ${in.columns.length} fields — project " +
            s"one, e.g. $fn($b.${in.columns.headOption.getOrElse("f")})")
        val c = col(s"`${in.columns.head}`")
        fn match {
          case "SUM" => sum(c)
          case "AVG" => avg(c)
          case "MIN" => min(c)
          case "MAX" => max(c)
          case "MEDIAN" => percentile(c, lit(0.5))
        }
      case FuncCall("COUNT", Seq(FuncCall("DISTINCT", Seq(FieldRef(p)))))
          if p.headOption.contains(g.bagName) =>
        countDistinct(resolve(in, p.tail))
      case FuncCall(fn, Seq(arg)) if aggFns(fn) && refsBagOnly(g, arg) =>
        val c = rowExprOverInput(g, arg)
        fn match {
          case "COUNT" => count(c)
          case "SUM" => sum(c)
          case "AVG" => avg(c)
          case "MIN" => min(c)
          case "MAX" => max(c)
          case "MEDIAN" => percentile(c, lit(0.5))
          case "COUNT_STAR" => count(lit(1))
        }
      case FuncCall(fn, Seq(Star)) if fn == "COUNT" || fn == "COUNT_STAR" =>
        count(lit(1))
      case BinOp(op, l, r) =>
        val (a, b) = (inner(l), inner(r))
        op match {
          case "+" => a + b; case "-" => a - b
          case "*" => a * b; case "/" => a / b; case "%" => a % b
        }
      case Lit(v) => lit(v)
      case other => sys.error(s"unsupported aggregate expr $other")
    }
    inner(e).as(as.getOrElse(exprName(e)))
  }

  private def exprName(e: Expr): String = e match {
    case FieldRef(p) => p.last
    case PosRef(i) => s"f$i"
    case FuncCall(n, args) =>
      (n +: args.map(exprName)).mkString("_").toLowerCase
    case Flatten(x) => exprName(x)
    case CastExpr(_, x) => exprName(x)
    case Star => "all"
    case BinOp(_, l, _) => exprName(l)
    case _ => "expr"
  }

  /** Is this FOREACH a pure aggregate over a grouped relation — and one
    * the fused path can actually compile? (Anything else falls back to
    * the materialized-bag path.) */
  private def isAggForeach(g: GroupedRel, items: Seq[GenItem]): Boolean = {
    def exprOk(e: Expr): Boolean = e match {
      case FieldRef(Seq("group")) => true
      case FieldRef(p) if p.head == "group" => true
      case FuncCall("COUNT", Seq(FuncCall("DISTINCT", Seq(FieldRef(p)))))
          if p.headOption.contains(g.bagName) => true
      case FuncCall(fn, Seq(FieldRef(Seq(b)))) if aggFns(fn) && b == g.bagName => true
      case FuncCall(fn, Seq(Star)) if fn == "COUNT" || fn == "COUNT_STAR" => true
      case FuncCall(fn, Seq(arg)) if aggFns(fn) => refsBagOnly(g, arg)
      case BinOp(_, l, r) => exprOk(l) && exprOk(r)
      case Lit(_) => true
      case _ => false
    }
    items.forall(i => exprOk(i.expr))
  }

  /** Rewrite `bag.f` → the group key ref when f is a grouping key (its
    * value is constant within the group). Recurses through arithmetic
    * but NOT into function calls — `AVG(bag.key)` legitimately
    * aggregates over the bag. */
  private def rewriteBagKeyRefs(g: GroupedRel, e: Expr): Expr = e match {
    case FieldRef(Seq(b, f)) if b == g.bagName &&
        g.keyExprs.exists { case FieldRef(Seq(`f`)) => true; case _ => false } =>
      if (g.keyIsStruct) FieldRef(Seq("group", f)) else FieldRef(Seq("group"))
    case BinOp(op, l, r) =>
      BinOp(op, rewriteBagKeyRefs(g, l), rewriteBagKeyRefs(g, r))
    case _ => e
  }

  /** Pig's `in::field` output names for a JOIN, CROSS or SPATIAL_JOIN
    * input, renamed in one projection. */
  private def prefixed(in: String, df: DataFrame): DataFrame =
    df.toDF(df.columns.map(c => s"$in::$c").toIndexedSeq: _*)

  /** [[prefixed]], plus the input's `in::w_start` window column if it has
    * one. A WINDOW'd streaming input (one with w_start) is watermarked on
    * it so the stream-stream join's per-window state is evictable; delay
    * 0 because the reference's DStream windows admit no late data (ref:
    * codegen/flink/emitter/StreamJoinEmitter.scala). */
  private def windowPrefixed(in: String, df0: DataFrame)
      : (DataFrame, Option[Column]) = {
    val df = if (df0.isStreaming && df0.columns.contains("w_start"))
      df0.withWatermark("w_start", "0 seconds") else df0
    val renamed = prefixed(in, df)
    (renamed, if (df.columns.contains("w_start"))
      Some(renamed(s"`$in::w_start`")) else None)
  }

  // ---- statement execution -------------------------------------------------
  def run(stmts: Seq[Stmt]): Unit = stmts.foreach(exec)

  private def exec(s: Stmt): Unit = s match {
    case Load(a, path, loader, schema) =>
      env(a) = Rel(() => load(path, loader, schema))

    case Store(a, path, loader) =>
      val df = relation(a)
      loader match {
        // STORE rel INTO 'dir' USING WarcStorage('uriField', 'payloadField'
        // [, 'gzip']) — WARC segments, one per partition
        case Some(("WarcStorage", wargs)) =>
          require(wargs.length >= 2, "WarcStorage STORE needs " +
            "('uriField', 'payloadField' [, 'gzip'])")
          graft.sources.Warc.write(df, path, col(wargs(0)), col(wargs(1)),
            gzip = wargs.drop(2).exists(_.equalsIgnoreCase("gzip")))
        // STORE rel INTO 'dir' USING TarStorage('entryField',
        // 'payloadField') — one tar.gz per partition
        case Some(("TarStorage", targs)) =>
          require(targs.length >= 2, "TarStorage STORE needs " +
            "('entryField', 'payloadField')")
          graft.sources.Archives.writeTar(df, path,
            col(targs(0)), col(targs(1)))
        // STORE rel INTO 'dir' USING SortedStorage('c1' [, 'c2' …]
        // [, '<maxRecordsPerFile>']) — globally-ordered shard export
        case Some(("SortedStorage", sargs)) =>
          val (nums, cols) = sargs.partition(_.forall(_.isDigit))
          require(cols.nonEmpty,
            "SortedStorage STORE needs ordering column(s)")
          graft.core.Pipe(df).storeSorted(path, cols.map(col),
            maxRecordsPerFile = nums.headOption.map(_.toLong).getOrElse(0L))
        // STORE rel INTO 'dir' USING ZOrderStorage('c1', 'c2' [, …]
        // [, '<maxRecordsPerFile>']) — multi-column z-order layout
        case Some(("ZOrderStorage", zargs)) =>
          val (nums, cols) = zargs.partition(_.forall(_.isDigit))
          require(cols.nonEmpty,
            "ZOrderStorage STORE needs layout column(s)")
          graft.core.Pipe(df).storeZOrdered(path, cols,
            maxRecordsPerFile = nums.headOption.map(_.toLong).getOrElse(0L))
        // STORE rel INTO 'dir' USING ManifestStorage(['k1', 'k2' …]
        // [, '<maxRecordsPerFile>']) — parquet + per-file row counts
        // and XOR content checksums under path/_manifest
        case Some(("ManifestStorage", margs)) =>
          val (nums, cols) = margs.partition(_.forall(_.isDigit))
          graft.core.Pipe(df).storeWithManifest(path, cols.map(col),
            maxRecordsPerFile = nums.headOption.map(_.toLong).getOrElse(0L))
        case _ =>
          val (fmt, opts) = storeFormat(loader)
          df.write.mode("overwrite").options(opts).format(fmt).save(path)
      }
      stored(path) = df

    case Dump(a, mute) =>
      // mute still EXECUTES the plan (the reference dumps to a null
      // writer for timing runs) — it only suppresses the console rows
      if (mute) relation(a).queryExecution.toRdd.count()
      else relation(a).show(20, truncate = false)
    case Describe(a) => println(relation(a).schema.treeString)

    case Filter(a, in, cond) =>
      val df = relation(in)
      env(a) = Rel(() => df.filter(compileExpr(df, cond)))

    case Foreach(a, in, items0) =>
      val rel = env(in)
      // `bag.f` where f is a grouping key names the key's (per-group
      // constant) scalar — the reference emits the key value there
      // (truth/grouping2.data), not a one-element-repeated bag
      val items = rel.grouped match {
        case Some(g0) => items0.map(i => i.copy(expr = rewriteBagKeyRefs(g0, i.expr)))
        case None => items0
      }
      rel.grouped match {
        case Some(g) if isAggForeach(g, items) =>
          // THE fusion: aggregate consumer → groupBy().agg(), no bag
          val aggs = items.filterNot(i => isGroupRef(i.expr))
            .map(i => compileAgg(g, i.expr, i.as))
          val keyItems = items.filter(i => isGroupRef(i.expr))
          val keyCol = (if (g.keyIsStruct) struct(g.keys: _*) else g.keys.headOption.getOrElse(lit("all"))).as("group")
          val out =
            if (aggs.isEmpty)
              // FOREACH grouped GENERATE group; — the Pig distinct idiom
              g.input.select(keyCol).distinct()
            else if (g.keys.isEmpty) g.input.agg(aggs.head, aggs.tail: _*)
            else g.input.groupBy(keyCol).agg(aggs.head, aggs.tail: _*)
          // order columns as written; rename group if aliased
          val proj = items.map { i =>
            if (isGroupRef(i.expr)) {
              val c = i.expr match {
                case FieldRef(Seq("group")) => col("group")
                case FieldRef(p) => p.tail.foldLeft(col("group"))(_.getField(_))
                case _ => col("group")
              }
              c.as(i.as.getOrElse(if (keyItems.size <= 1) "group" else exprName(i.expr)))
            } else col(i.as.getOrElse(exprName(i.expr)))
          }
          env(a) = Rel(() => out.select(proj: _*))
        case _ =>
          val df = rel.df()
          if (isGlobalAggForeach(df, items))
            env(a) = Rel(() => globalAgg(in, df, items))
          else
            env(a) = Rel(() => compileForeach(df, items))
      }

    case ForeachNested(a, in, assigns, items0) =>
      val base = env(in).df()
      // `*` in a nested FOREACH means the INPUT relation's columns — not
      // the nested aliases added below (reference nforeach2.pig:
      // GENERATE *, COUNT(r1) emits (group, bag, cnt), not the temp bags)
      val items = items0.flatMap {
        case GenItem(Star, None, _) =>
          base.columns.toSeq.map(c => GenItem(FieldRef(Seq(c)), None))
        case other => Seq(other)
      }
      env(a) = Rel(() => {
        // derived bags as temp array columns, then generate
        val withBags = assigns.foldLeft(base) { case (d, (name, op)) =>
          val c = op match {
            case NProj(p) => resolve(d, p)
            case NDistinct(r) => array_distinct(col(s"`$r`"))
            case NFilter(r, cond) =>
              // element-wise filter: field refs resolve on the element
              filter(col(s"`$r`"), x => compileElemPred(x, cond))
            case NOrder(r, key, desc) =>
              key match {
                case None => sort_array(col(s"`$r`"), asc = !desc)
                case Some(f) =>
                  val cmp = (l: Column, rr: Column) => {
                    val (a, b) = (l.getField(f), rr.getField(f))
                    val lt = when(a < b, -1).otherwise(when(a > b, 1).otherwise(0))
                    if (desc) -lt else lt
                  }
                  array_sort(col(s"`$r`"), cmp)
              }
            case NLimit(r, n) => slice(col(s"`$r`"), 1, n)
          }
          d.withColumn(name, c)
        }
        compileForeach(withBags, items)
      })

    case Group(a, in, keys, all) =>
      val input = relation(in)
      val keyCols = keys.map(k => compileExpr(input, k))
      val g = GroupedRel(input, keyCols, keyIsStruct = keys.length > 1,
        bagName = in, keyExprs = keys)
      env(a) = Rel(() => graft.core.Pipe(input).groupByBag(in, keyCols: _*).df,
        grouped = Some(g))

    case CoGroup(a, ins) =>
      val parts = ins.map { case (in, keys) =>
        val df = relation(in)
        (graft.core.Pipe(df), keys.map(k => compileExpr(df, k)), in)
      }
      env(a) = Rel(() => graft.core.Pipe.cogroup(parts: _*).df)

    case Join(a, ins, joinType) =>
      val inputs = ins.map { case (in, keys) =>
        val (renamed, wStart) = windowPrefixed(in, relation(in))
        (renamed, keys.map(k => compileExpr(renamed, k)), wStart)
      }
      inputs.find { case (df, _, w) => df.isStreaming && w.isEmpty }
        .foreach { case (_, _, _) => sys.error(
          "JOIN on streaming relations requires WINDOW'd inputs (the " +
            "reference joins streams per tumbling window — apply " +
            "`w = WINDOW rel RANGE n UNIT SLIDE RANGE n UNIT;` to " +
            "each side first)") }
      env(a) = Rel(() => inputs
        .reduceLeft[(DataFrame, Seq[Column], Option[Column])] {
          case ((l, lk, lw), (r, rk, rw)) =>
            val keyCond = lk.zip(rk).map { case (x, y) => x === y }
            // both sides windowed → the reference's per-window join:
            // rows pair only inside the SAME window instance
            val cond = (keyCond ++ (for (x <- lw; y <- rw)
              yield x === y)).reduce(_ && _)
            (l.join(r, cond, joinType), rk, lw.orElse(rw))
        }._1)

    // NOTE every statement resolves its input aliases EAGERLY (outside
    // the Rel thunk): Pig allows alias reassignment, so a lazy
    // relation(in) would rewire earlier-defined relations to the LATER
    // binding — and `a = DISTINCT a;` would recurse into itself
    case Cross(a, ins) =>
      val dfs = ins.map(in => (in, relation(in)))
      if (dfs.exists(_._2.isStreaming)) {
        // streaming CROSS = the reference's per-window cross product
        // (ref: it/windowCross.pig on the Flink streaming backend):
        // WINDOW'd sides pair within the same window instance — an
        // equi-join on w_start, which Structured Streaming CAN run
        // (a true unbounded cross of streams is unexecutable anywhere)
        val inputs = dfs.map { case (in, df) =>
          require(df.columns.contains("w_start"),
            "CROSS on streaming relations requires WINDOW'd inputs " +
              "(pairs form within a window, not across the unbounded " +
              "streams)")
          val (renamed, wStart) = windowPrefixed(in, df)
          (renamed, wStart.get)
        }
        env(a) = Rel(() => inputs.reduceLeft[(DataFrame, Column)] {
          case ((l, lw), (r, rw)) => (l.join(r, lw === rw), lw)
        }._1)
      } else {
        val inputs = dfs.map { case (in, df) => prefixed(in, df) }
        env(a) = Rel(() => inputs.reduceLeft(_.crossJoin(_)))
      }

    case Union(a, ins, onSchema) =>
      val pipes = ins.map(in => graft.core.Pipe(relation(in)))
      env(a) = Rel(() =>
        if (onSchema) pipes.head.unionWith(pipes.tail: _*).df
        else pipes.head.unionPositional(pipes.tail: _*).df)

    case DistinctStmt(a, in) =>
      val df = relation(in)
      env(a) = Rel(() => df.distinct())

    case LimitStmt(a, in, n) =>
      val df = relation(in)
      env(a) = Rel(() => df.limit(n))

    case OrderBy(a, in, keys) =>
      val df = relation(in)
      val cols = keys.map { case (e, desc) =>
        val c = compileExpr(df, e); if (desc) c.desc else c.asc }
      env(a) = Rel(() => df.orderBy(cols: _*))

    case SampleStmt(a, in, f) =>
      val df = relation(in)
      env(a) = Rel(() => df.sample(withReplacement = false, f, 42L))

    case SplitInto(in, branches) =>
      val p = graft.core.Pipe(relation(in))
      val conds = branches.map { case (n, c) => (n, c.map(compileExpr(p.df, _))) }
      val explicit = conds.flatMap(_._2)
      conds.foreach {
        case (name, Some(c)) => env(name) = Rel(() => p.splitInto(c).head.df)
        case (name, None) => env(name) = Rel(() => p.splitOtherwise(explicit: _*).df)
      }

    case RankStmt(a, in, keys) =>
      val df = relation(in)
      env(a) = Rel(() =>
        if (keys.isEmpty)
          // Pig's RANK is 1-based in both forms (zipWithIndex itself
          // stays 0-based — that is ZIP WITH INDEX's contract)
          graft.core.Pipe(df).zipWithIndex(Nil, "rank").df
            .withColumn("rank", col("rank") + lit(1L))
        else
          // ties share ranks — scalable rank via broadcast of distinct keys
          graft.core.Pipe(df).rankByKeys(
            keys.map { case (e, desc) => (compileExpr(df, e), desc) }, "rank").df)

    case Accumulate(a, in, items) =>
      val df = relation(in)
      env(a) = Rel(() => globalAgg(in, df, items))

    case IntersectStmt(a, l, r) =>
      val (ld, rd) = (relation(l), relation(r))
      env(a) = Rel(() => ld.intersect(rd))
    case DifferenceStmt(a, l, r) =>
      val (ld, rd) = (relation(l), relation(r))
      env(a) = Rel(() => ld.except(rd))

    case StreamThrough(a, in, op, args, outSchema) =>
      val key = op.toUpperCase
      val withArgs = udosWithArgs.get(key)
      val plain = udos.get(key)
      if (args.nonEmpty && withArgs.isEmpty)
        sys.error(s"stream operator $op was invoked with constructor " +
          s"arguments but registered without an argument handler " +
          "(registerUdo(name, (args, df) => df))")
      val f: DataFrame => DataFrame = withArgs match {
        case Some(g) =>
          val literals = args.map {
            case Ast.Lit(v) => v.toString
            case other => sys.error(
              s"stream operator arguments must be literals, got $other")
          }
          df => g(literals, df)
        case None => plain.getOrElse(
          sys.error(s"unregistered stream operator $op"))
      }
      val inDf = relation(in)
      env(a) = Rel(() => {
        val out = f(inDf)
        // AS (name:type, ...) — positional rename + cast, like LOAD
        outSchema.fold(out) { fs =>
          require(fs.length == out.columns.length,
            s"STREAM ... AS schema has ${fs.length} fields but the " +
              s"operator emitted ${out.columns.length} columns")
          out.select(out.columns.zip(fs).map { case (c, fld) =>
            org.apache.spark.sql.functions.col(s"`$c`")
              .cast(sparkType(fld.typeName)).as(fld.name)
          }: _*)
        }
      })

    case RScriptStmt(a, in, code) =>
      val df = relation(in)
      // the Pig RSCRIPT statement is whole-matrix like the reference
      // (sparklib RScriptOp.scala collects the relation into one R matrix);
      // graft keeps it executor-side via coalesce(1) instead of a driver
      // collect. The engine comes from graft.rscript.binary: an external
      // interpreter command, or "builtin" for the in-JVM MiniR evaluator
      // (result arity then inferred by a bounded probe; external engines
      // default to input arity as before)
      env(a) = Rel(() => {
        val binary = spark.conf.getOption("graft.rscript.binary")
          .getOrElse("Rscript")
        val nOut = if (binary == "builtin") -1 else df.columns.length
        graft.core.Pipe(df)
          .rscript(code, outCols = nOut, global = true, binary = binary).df
      })

    // MATERIALIZE a: persist in this session, the same as `a = CACHE a;`
    // (Pipe.materialize(path) is the API's parquet-writing form)
    case Materialize(a) => exec(CacheStmt(a, a, None))

    case SetCmd(k, v) => spark.conf.set(k, v)
    case FsCmd(c, ps) =>
      graft.core.FsOps.process(spark.sparkContext.hadoopConfiguration, c, ps)
    case Register(_) => () // jars are on the classpath in graft
    case DefineAlias(n, t) =>
      udos.get(t.toUpperCase).foreach(f => udos(n.toUpperCase) = f)

    // ---- CEP (reference: op/Matcher.scala + ceplib streaming scripts) ------
    case MatchEvent(a, in, pattern, defs, mode, withinSec, keyField, reorder) =>
      import graft.cep.Matcher
      val df = relation(in)
      // label each row with the FIRST event definition it satisfies
      val etype = defs.foldRight(lit(null).cast(StringType)) {
        case ((n, e), acc) => when(compileExpr(df, e), lit(n)).otherwise(acc) }
      val tsCol = df.schema.fields
        .find(_.dataType == TimestampType).map(_.name)
        .getOrElse(df.columns.head)
      // BY field partitions the scan per key (numeric keys cast, others
      // hash — the scan only equi-compares keys); default: one global key
      val keyCol = keyField.map { f =>
        require(df.columns.contains(f),
          s"MATCH_EVENT BY $f: no such field in " +
            df.columns.mkString("(", ", ", ")"))
        df.schema(f).dataType match {
          case _: org.apache.spark.sql.types.NumericType =>
            col(f).cast(LongType)
          case _ => xxhash64(col(f))
        }
      }.getOrElse(lit(0L))
      val prepared0 = df.withColumn("__etype", etype)
        .withColumn("__key", keyCol)
        .withColumn("__val", lit(0.0))
        .withColumn("__id", xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)))
      // matchSeq reads numeric time columns as MICROS; the Pig dialect's
      // contract (like WITHIN's unit) is SECONDS for numeric fields —
      // convert here, fractional seconds preserved
      val (prepared, tsName) =
        if (df.schema(tsCol).dataType == TimestampType) (prepared0, tsCol)
        else (prepared0.withColumn("__tsm",
          (col(tsCol).cast(DoubleType) * 1e6).cast(LongType)), "__tsm")
      def steps(p: Pat): Seq[Matcher.Step] = p match {
        case PSimple(n) => Seq(Matcher.Pos(Matcher.typeIs(n)))
        case PNeg(PSimple(n)) => Seq(Matcher.Neg(Matcher.typeIs(n)))
        case PNeg(other) => sys.error(s"NEG over composite pattern: $other")
        case POr(items) =>
          val names = items.collect { case PSimple(n) => n }.toSet
          Seq(Matcher.Pos(e => names(e.etype)))
        case PSeq(items) => items.flatMap(steps)
        case PAnd(_) => sys.error("top-level AND handled separately")
      }
      // BY exposes the key in the output; the keyless form keeps the
      // original (ids, startMicros, endMicros) shape
      def shape(m: DataFrame) =
        if (keyField.isDefined)
          m.select(col("key"), col("ids"), col("startMicros"), col("endMicros"))
        else m.select(col("ids"), col("startMicros"), col("endMicros"))
      val withinMicros = withinSec * 1000000L
      require(df.isStreaming || reorder.isEmpty,
        "MATCH_EVENT REORDER BY applies to streaming inputs only — " +
          "a batch relation is already time-sortable")
      // BATCH input: the secondary-sort scan. STREAMING input: the
      // stateful streaming scan — the reference scripted CEP over socket
      // streams (ceplib); batch matchSeq cannot execute on an unbounded
      // relation. REORDER BY 'delay' opts into the watermark reorder
      // buffer for out-of-order sources; without it the per-key in-order
      // arrival contract of streamMatchSteps applies.
      def run(p: Pat): DataFrame =
        if (!df.isStreaming) Matcher.matchSeq(prepared, "__key", tsName,
          "__etype", "__id", "__val", steps(p), withinMicros, mode)
        else {
          val evs = Matcher.events(prepared, "__key", tsName, "__etype",
            "__id", "__val")
          val st = steps(p)
          (reorder match {
            case Some(delay) => graft.streaming.Streams
              .streamMatchStepsReordered(evs, st, withinMicros, delay, mode)
            case None => graft.streaming.Streams
              .streamMatchSteps(evs, st, withinMicros, mode = mode)
          }).toDF()
        }
      def matched(): DataFrame = shape(pattern match {
        // AND(A,B): both occur in either order within the window
        case PAnd(items) => items.permutations
          .map(perm => run(PSeq(perm))).reduce(_.unionByName(_))
        case p => run(p)
      })
      // a batch plan is built once, here; a streaming plan on every use
      val out: () => DataFrame =
        if (df.isStreaming) () => matched()
        else { val m = matched(); () => m }
      env(a) = Rel(out)

    // ---- WINDOW (reference: op/Window.scala) -------------------------------
    case WindowStmt(a, in, rows, size, unit, slide, slideUnit) =>
      val df = relation(in)
      if (!rows) {
        df.schema.fields.find(_.dataType == TimestampType).map(_.name) match {
          case Some(tsCol) =>
            // Spark's TimeWindowing rule expands this projection (exploding
            // rows into overlapping windows for sliding specs)
            val w = window(col(tsCol), s"$size $unit", s"$slide $slideUnit")
            env(a) = Rel(() => df.select((col("*") +: Seq(
              w.getField("start").as("w_start"),
              w.getField("end").as("w_end"))): _*))
          case None =>
            // a column NAMED like event time but not typed as one is
            // almost certainly a forgotten ':datetime' — silently falling
            // back to arrival time would window wrongly with no signal
            df.columns.find(_.toLowerCase.matches(
                "ts|time|timestamp|datetime|event_time")).foreach(c =>
              sys.error(s"WINDOW RANGE: column '$c' is not a timestamp — " +
                "declare it ':datetime' in the AS clause for event-time " +
                "windows (arrival-time windowing applies only to " +
                "relations with no time-named column)"))
            // no event-time column: piglet's streaming windows cut on
            // ARRIVAL time. Over a bounded batch every row shares the one
            // processing-time window, so the windowed relation is the
            // relation itself — the semantics the reference's own
            // streaming IT relies on (SparksCompileIt compares
            // windowFilter/windowSort/... against the plain batch truths)
            env(a) = Rel(() => df)
        }
      } else {
        require(slide == size, "ROWS windows support tumbling (slide == size)")
        val orderCol = df.schema.fields
          .find(_.dataType == TimestampType).map(f => col(f.name))
          .getOrElse(col(df.columns.head))
        val w = org.apache.spark.sql.expressions.Window.orderBy(orderCol)
        env(a) = Rel(() => df.withColumn("w_id",
          floor((row_number().over(w) - 1) / size.toInt)))
      }

    // ---- sockets (reference: op/SocketRead/Write.scala) --------------------
    case SocketRead(a, addr, mode, loader, schema, tsField) =>
      val Array(host, port) = addr.split(":")
      // the mode must reach the source — silently reading zmq frames as
      // plain lines would skip the topic split/filter with no diagnostic
      val srcMode = mode match {
        case "plain" | "" => ""
        case "zmq" => "zmq"
        case other => sys.error(
          s"unsupported SOCKET_READ mode '$other' (plain, zmq)")
      }
      val raw = graft.streaming.Streams.socketSource(spark, host,
        port.toInt, mode = srcMode)
      val df0 = schema.fold(raw) { fs =>
        // zmq frames carry the tuple in the payload column; the topic is
        // transport framing (the subscription filter's key), not data
        val delim = loader.flatMap(_._2.headOption).getOrElse(",")
        val parts = split(col("value"), java.util.regex.Pattern.quote(delim))
        raw.select(fs.zipWithIndex.map { case (f, i) =>
          val cast = element_at(parts, i + 1).cast(sparkType(f.typeName))
          if (f.typeName == "chararray") cast.as(f.name, chararrayMeta)
          else cast.as(f.name)
        }: _*)
      }
      // TIMESTAMP(f): mark f as event time by casting it to a real
      // timestamp (the reference records the field index on the schema
      // for downstream windows; a typed column is the Spark-native form)
      val df = tsField.fold(df0) { f =>
        require(df0.columns.contains(f),
          s"SOCKET_READ TIMESTAMP($f): no such field in schema " +
            df0.columns.mkString("(", ", ", ")"))
        df0.withColumn(f,
          when(col(f).cast("double").isNotNull,
            timestamp_seconds(col(f).cast("double")))
            .otherwise(col(f).cast("timestamp")))
      }
      env(a) = Rel(() => df)

    case SocketWrite(in, addr, mode) =>
      val df = relation(in)
      val Array(host, port) = addr.split(":")
      def stream(push: DataFrame => Unit): Unit =
        if (df.isStreaming)
          graft.streaming.Streams.foreachBatchSink(df, s"socket_$in") {
            (batch, _) => push(batch) }
        else push(df)
      mode match {
        case "plain" | "" =>
          stream { batch =>
            val sock = new java.net.Socket(host, port.toInt)
            try {
              val out = new java.io.PrintWriter(new java.io.BufferedWriter(
                new java.io.OutputStreamWriter(sock.getOutputStream,
                  java.nio.charset.StandardCharsets.UTF_8)))
              // toLocalIterator streams one partition at a time to the
              // driver — a single TCP endpoint is inherently driver-
              // throughput-bound, but memory stays bounded by the largest
              // partition, never the whole relation (a collect() here
              // OOMs on large relations)
              val it = batch.toJSON.toLocalIterator()
              while (it.hasNext) out.println(it.next())
              out.flush()
            } finally sock.close()
          }
        case "zmq" =>
          // bind a real ZMTP PUB endpoint at the given port (binding is
          // local; the host part of the address is advisory) and publish
          // each tuple as one frame — SUB peers' prefix subscriptions
          // filter server-side. PUB/SUB slow-joiner semantics apply:
          // rows published before a peer subscribes are not delivered
          val pub = graft.streaming.ZmtpPub.bind(port.toInt)
          stream { batch =>
            val it = batch.toJSON.toLocalIterator()
            while (it.hasNext) pub.publish(Seq(it.next()
              .getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          }
        case other => sys.error(
          s"unsupported SOCKET_WRITE mode '$other' (plain, zmq)")
      }

    // ---- RDF (reference: op/RDFLoad/Tuplify/BGPFilter.scala) ---------------
    case RdfLoad(a, uri, grouped) =>
      // the DIALECT keeps raw N-Triples tokens (reference groupforeach/
      // nforeach2 truths filter on bracketed IRIs); the graft API's
      // loadNTriples is the cleaned variant
      val plain = () => graft.rdf.Rdf.loadNTriplesRaw(spark, uri)
        .toDF("subject", "predicate", "object")
      env(a) = Rel(() => grouped match {
        case None => plain()
        // reference RDFLoad.groupedSchemas: (col, stmts:{(otherA, otherB)})
        case Some(g) =>
          val others = Seq("subject", "predicate", "object").filterNot(_ == g)
          plain().groupBy(col(g)).agg(collect_list(
            struct(others.map(col): _*)).as("stmts"))
      })

    case TuplifyStmt(a, in, on) =>
      val df = relation(in)
      val subj = compileExpr(df, on)
      env(a) = Rel(() => graft.rdf.Rdf.tuplify(
        df.select(subj.as("s"), col(df.columns(1)).as("p"),
          col(df.columns(2)).as("o"))))

    case BgpFilter(a, in, pats) =>
      val df = relation(in)
      val triples = df.select(col(df.columns(0)).as("s"),
        col(df.columns(1)).as("p"), col(df.columns(2)).as("o"))
      val patterns = pats.map { tp =>
        def term(t: Either[String, String]) = t match {
          case Left(v) => s"?$v"
          case Right(c) => c
        }
        graft.rdf.Rdf.Pattern(term(tp.s), term(tp.p), term(tp.o))
      }
      // reference semantics (op/BGPFilter.scala + its IT truths): a
      // single pattern is a FILTER — the matching triples keep their
      // schema; multi-pattern BGPs project the variables in
      // ALPHABETICAL order (truth/rdf_starjoin_plain.data: f, l, person)
      if (patterns.length == 1) {
        val p = patterns.head
        def isVar(x: String) = x.startsWith("?")
        var cond: Column = lit(true)
        if (!isVar(p.s)) cond = cond && col(df.columns(0)) === p.s
        if (!isVar(p.p)) cond = cond && col(df.columns(1)) === p.p
        if (!isVar(p.o)) cond = cond && col(df.columns(2)) === p.o
        // repeated variables within the pattern imply position equality
        val pos = Seq(p.s, p.p, p.o).zip(df.columns.take(3))
        pos.filter(t => isVar(t._1)).groupBy(_._1).values.foreach { occ =>
          occ.map(_._2).sliding(2).foreach {
            case Seq(x, y) => cond = cond && col(x) === col(y)
            case _ => ()
          }
        }
        env(a) = Rel(() => df.filter(cond))
      } else env(a) = Rel(() => {
        val out = graft.rdf.Rdf.bgpFilter(triples, patterns)
        out.select(out.columns.sorted.map(col).toIndexedSeq: _*)
      })

    // ---- spatial (reference: op/SpatialFilter/SpatialJoin.scala) -----------
    case SpatialFilterStmt(a, in, FuncCall(name, args)) =>
      import graft.spatial.Spatial
      val df = relation(in)
      def num(e: Expr): Double = e match {
        case Lit(v: Long) => v.toDouble
        case Lit(v: Double) => v
        case Neg(inner) => -num(inner)
        case other => sys.error(s"expected numeric literal, got $other")
      }
      val cond = name match {
        case "CONTAINEDBY" => args(1) match {
          case FuncCall("BOX", box) =>
            Spatial.inBox(compileExpr(df, args.head),
              num(box(0)), num(box(1)), num(box(2)), num(box(3)))
          // point-in-point containment (reference spatialfilter.pig:
          // containedby(loc, geometry("POINT(..)"))) = coordinate equality
          case geom =>
            val g = compileExpr(df, geom)
            val p = compileExpr(df, args.head)
            p.getField("x") === g.getField("x") &&
              p.getField("y") === g.getField("y")
        }
        case "DWITHIN" =>
          val FuncCall("POINT", pt) = args(1): @unchecked
          Spatial.dist(compileExpr(df, args.head),
            Spatial.point(lit(num(pt(0))), lit(num(pt(1))))) <= num(args(2))
        case other => sys.error(s"unsupported spatial predicate $other")
      }
      env(a) = Rel(() => df.filter(cond))

    case SpatialJoinStmt(a, l, r, FuncCall(pname, pargs)) =>
      // piglet disambiguates spatial-join output as l::col / r::col, and
      // the ON fields resolve first-arg-to-left, second-arg-to-right
      // (reference spatialjoin.pig: ON containedby(loc, loc) then
      // GENERATE b1::name, b2::name)
      // the l::/r:: output disambiguation requires distinct aliases — a
      // self-join (same alias both sides) would rename both inputs to
      // identical names and fail downstream with AMBIGUOUS_REFERENCE;
      // fail here with an actionable message instead
      if (l == r) sys.error(
        s"SPATIAL_JOIN: both sides are '$l'; assign one side a new " +
        s"alias first (e.g. ${l}2 = FOREACH $l GENERATE *;)")
      val ld = prefixed(l, relation(l))
      val rd = prefixed(r, relation(r))
      def geomName(e: Expr, rel: String) = e match {
        case FieldRef(p) =>
          val n = p.mkString("::")
          if (n.startsWith(s"$rel::")) n else s"$rel::$n"
        case other => sys.error(s"spatial join needs geometry fields, got $other")
      }
      val (lg, rg) = (geomName(pargs(0), l), geomName(pargs(1), r))
      pname match {
        case "DWITHIN" =>
          val radius = pargs(2) match {
            case Lit(v: Long) => v.toDouble
            case Lit(v: Double) => v
            case other => sys.error(s"dwithin radius must be a literal: $other")
          }
          env(a) = Rel(() =>
            graft.spatial.Spatial.distanceJoin(ld, rd, lg, rg, radius))
        // point-point containment/intersection = coordinate equality:
        // a plain equi-join (radius 0 through the grid join would divide
        // the cell id by zero — CAST_OVERFLOW under ANSI mode)
        case "CONTAINEDBY" | "CONTAINS" | "INTERSECTS" =>
          env(a) = Rel(() =>
            graft.spatial.Spatial.equalityJoin(ld, rd, lg, rg))
        case other => sys.error(s"unsupported spatial join predicate $other")
      }

    case ZipIndexStmt(a, in) =>
      val df = relation(in)
      env(a) = Rel(() =>
        graft.core.Pipe(df).zipWithIndex(Nil, "index").df)

    case ZipBagsStmt(a, ins) =>
      // positional zip of ≥2 relations: chained index-joins, truncating
      // to the shortest input (reference Zip withIndex=false semantics)
      val dfs = ins.map(relation)
      env(a) = Rel(() => dfs.map(graft.core.Pipe(_))
        .reduceLeft((l, r) => l.zipWith(r, Nil, Nil)).df)

    case CacheStmt(a, in, mode) =>
      val df = relation(in)
      // reference CacheMode.NONE means "do not cache" (its
      // MaterializationManager skips inserting the Cache op for NONE),
      // so explicit `CACHE a NONE` is a pass-through; no mode given =
      // Dataset.cache's default level
      mode.map(_.toUpperCase) match {
        case Some("NONE") => env(a) = Rel(() => df)
        case m =>
          val level = m
            .map(org.apache.spark.storage.StorageLevel.fromString)
            .getOrElse(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val cached = df.persist(level)
          env(a) = Rel(() => cached)
      }

    case IndexStmt(a, in, field, method) =>
      // USING rtree → Z-order curve range partitioning (the Spark analog
      // of a bulk-loaded R-tree: each partition covers a compact spatial
      // region, like an R-tree leaf page); anything else → grid-cell
      // index column + co-partition (same runtime as PARTITION — the
      // reference's IndexOp materializes an index the later spatial ops
      // probe; graft's grid join does the probing via cell equi-joins)
      val df = relation(in)
      if (method == "rtree") {
        // zOrderIndex runs an EAGER bounds job (one 4-double agg); Rel
        // thunks re-evaluate per reference, so memoize — a script that
        // dumps, joins and stores the indexed alias must not re-scan the
        // input for bounds each time
        lazy val indexed = graft.spatial.Spatial.zOrderIndex(
          df, field, partitions = spark.sparkContext.defaultParallelism)
        env(a) = Rel(() => indexed)
      } else env(a) = Rel(() => graft.spatial.Spatial.spatialIndex(
        df, field, cellSize = 1.0,
        partitions = spark.sparkContext.defaultParallelism))

    case DelayStmt(a, in, waitMs, pct) =>
      val df = relation(in)
      env(a) = Rel(() => graft.core.Pipe(df).delay(pct / 100.0, waitMs).df)

    case SkylineStmt(a, in, dims) =>
      val df = relation(in)
      env(a) = Rel(() => graft.core.Pipe(df).skyline(
        dims.map(_._1), maximize = dims.filter(_._2).map(_._1).toSet).df)

    case DedupStmt(a, in, idF, cF, method, p) =>
      // LLM dedup layer, scriptable: every method returns the INPUT
      // RELATION minus all but one representative (min id) per duplicate
      // group — the curation contract of Dedup.semanticDedup, applied
      // uniformly. Near-dup pair sets cluster via connectedComponents.
      val df = relation(in)
      def intP(k: String, d: Int) = p.get(k).map(_.toInt).getOrElse(d)
      def dblP(k: String, d: Double) = p.get(k).map(_.toDouble).getOrElse(d)
      import graft.dedup.Dedup
      env(a) = Rel(() => if (df.isStreaming) method match {
        // STREAMING input: the stateful near-dup scan (each arrival
        // flagged against its bucket representatives). The relation is
        // the HIT REPORT (docId, dupOf, hamming) — a stream cannot
        // retroactively un-emit kept rows, so "corpus minus dups" is a
        // downstream batch anti-join over the sink, not this operator.
        case "simhash" => graft.streaming.Streams.streamSimhashDedup(
          df, idF, cF, maxDist = intP("maxdist", 3),
          stateTtlMs = p.get("ttlms").map(_.toLong).getOrElse(0L)).toDF()
        case other => sys.error(
          s"DEDUP on a streaming relation supports USING simhash only " +
            s"(got '$other') — batch methods need the bounded corpus")
      } else method match {
        case "exact" =>
          // winners: rows whose id IS the group's keep_id; null-content
          // rows are unknown content, not duplicates — they pass through
          val idx = Dedup.exact(df, idF, cF)
            .select(col("fp").as("__fp"), col("keep_id"))
          df.where(col(cF).isNotNull)
            .withColumn("__fp", graft.text.TextOps.fingerprint(col(cF)))
            .join(idx, Seq("__fp"))
            .where(col(idF) === col("keep_id"))
            .drop("__fp", "keep_id")
            .unionByName(df.where(col(cF).isNull))
        case m =>
          val pairs = m match {
            case "minhash" => Dedup.minhashLsh(df, idF, cF,
              numHashes = intP("numhashes", 32), bands = intP("bands", 8),
              threshold = dblP("threshold", 0.7), shingleN = intP("n", 3))
            case "simhash" => Dedup.simhashPairs(
              Dedup.simhash(df, idF, cF), maxDist = intP("maxdist", 3))
            case "jaccard" => Dedup.ngramJaccard(df, idF, cF,
              n = intP("n", 3), threshold = dblP("threshold", 0.6),
              maxDocFreq = intP("maxdocfreq", 100))
            case "cosine" => Dedup.embeddingCosine(df, idF, cF,
              threshold = dblP("threshold", 0.95),
              planes = intP("planes", 10), bands = intP("bands", 6))
            case "semantic" =>
              val cents = graft.sim.Similarity.ivfCentroids(
                df.select(col(idF).as("id"), col(cF).as("vec")),
                nCells = intP("cells", 16),
                seed = p.get("seed").map(_.toLong).getOrElse(42L))
              Dedup.semanticPairs(df, idF, cF, cents,
                threshold = dblP("threshold", 0.95))
            case other => sys.error(s"unknown DEDUP method '$other' — " +
              "expected exact, minhash, simhash, jaccard, cosine or semantic")
          }
          Dedup.keepOne(df, idF, pairs)
      })

    case QualityStmt(a, in, f, method) =>
      val df = relation(in)
      env(a) = Rel(() => method match {
        case "score" | "quality" =>
          df.withColumn("quality", graft.text.TextOps.qualityScore(col(f)))
        case "gopher" =>
          df.withColumn("keep",
            graft.text.TextOps.gopherRules(col(f)).getField("keep"))
        case other => sys.error(
          s"unknown QUALITY method '$other' — expected score or gopher")
      })

    case TokenizeStmt(a, in, f, method, p) =>
      val df = relation(in)
      env(a) = Rel(() => method match {
        case "whitespace" =>
          df.withColumn("tokens", graft.text.TextOps.tokens(col(f)))
        case "bpe" =>
          // merges train driver-side on the input's seeded sample (the
          // quantizer regime); the Rel thunk may run more than once, so
          // the table is memoized via the enclosing lazy
          df.withColumn("tokens", graft.text.Bpe.encode(col(f),
            bpeMergeMemo.getOrElseUpdate(
              (df.queryExecution.logical.canonicalized, f, p.toString),
              graft.text.Bpe.train(df, f,
                numMerges = p.get("merges").map(_.toInt).getOrElse(200),
                sampleSize = p.get("sample").map(_.toInt).getOrElse(2048),
                seed = p.get("seed").map(_.toLong).getOrElse(42L)))))
        case other => sys.error(
          s"unknown TOKENIZE_DOCS method '$other' — expected whitespace or bpe")
      })

    case DecontaminateStmt(a, in, idF, tF, bench, bId, bT, method, p) =>
      val corpus = relation(in)
      val bdf = relation(bench)
      env(a) = Rel(() => method match {
        case "clean" => graft.text.Decontaminate.clean(corpus, idF, tF,
          bdf, bId, bT,
          n = p.get("n").map(_.toInt).getOrElse(8),
          minHits = p.get("minhits").map(_.toLong).getOrElse(1L))
        case "report" => graft.text.Decontaminate.report(corpus, idF, tF,
          bdf, bId, bT,
          n = p.get("n").map(_.toInt).getOrElse(8),
          minHits = p.get("minhits").map(_.toLong).getOrElse(1L))
        case "fuzzy" => graft.text.Decontaminate.fuzzyClean(corpus, idF, tF,
          bdf, bId, bT,
          numHashes = p.get("numhashes").map(_.toInt).getOrElse(48),
          bands = p.get("bands").map(_.toInt).getOrElse(16),
          threshold = p.get("threshold").map(_.toDouble).getOrElse(0.5),
          shingleN = p.get("shinglen").map(_.toInt).getOrElse(3))
        // bloom / bloom_report: output-identical to clean / report but
        // behind the broadcast-bloom corpus gate (the 100 TB posture —
        // see Decontaminate.reportBloom)
        case "bloom" => graft.text.Decontaminate.cleanBloom(corpus, idF, tF,
          bdf, bId, bT,
          n = p.get("n").map(_.toInt).getOrElse(8),
          minHits = p.get("minhits").map(_.toLong).getOrElse(1L),
          fpp = p.get("fpp").map(_.toDouble).getOrElse(0.01))
        case "bloom_report" => graft.text.Decontaminate.reportBloom(
          corpus, idF, tF, bdf, bId, bT,
          n = p.get("n").map(_.toInt).getOrElse(8),
          minHits = p.get("minhits").map(_.toLong).getOrElse(1L),
          fpp = p.get("fpp").map(_.toDouble).getOrElse(0.01))
        case other => sys.error(
          s"unknown DECONTAMINATE method '$other' — expected clean, " +
            "report, fuzzy, bloom or bloom_report")
      })

    case PackStmt(a, in, idF, f, seqLen) =>
      val df = relation(in)
      // BY names either a precomputed numeric token count or a string
      // column to whitespace-count (resolved from the schema, so a typo
      // fails here rather than producing a zero-token layout)
      val nTok = df.schema(f).dataType match {
        case org.apache.spark.sql.types.StringType =>
          graft.text.TextOps.tokenCount(col(f))
        case _: org.apache.spark.sql.types.NumericType => col(f)
        case other => sys.error(
          s"PACK BY field '$f' must be a string (token-counted) or " +
            s"numeric (precomputed count) column, found $other")
      }
      env(a) = Rel(() =>
        graft.text.Pack.packConcat(df, idF, nTok, seqLen))

    case SplitHashStmt(a, in, keys, splits) =>
      val df = relation(in)
      env(a) = Rel(() =>
        graft.core.Pipe(df).splitByHash(splits, keys.map(col): _*).df)

    case TemperatureStmt(a, in, strata, alpha, keys) =>
      val df = relation(in)
      env(a) = Rel(() => graft.core.Pipe(df)
        .temperatureSampleByHash(col(strata), alpha, keys.map(col): _*).df)

    case OutliersStmt(a, in, g, v, k) =>
      val df = relation(in)
      env(a) = Rel(() => graft.core.Pipe(df)
        .madOutliers(col(g), col(v), k).df)

    case DiffStmt(a, ia, ib, keyF, contentF) =>
      val (dfa, dfb) = (relation(ia), relation(ib))
      env(a) = Rel(() => graft.core.Overlap.diff(
        dfa, col(keyF), col(contentF), dfb, col(keyF), col(contentF)))

    case TopFracStmt(a, in, strata, pct, scoreF, keys) =>
      val df = relation(in)
      env(a) = Rel(() => graft.core.Pipe(df)
        .topFracByGroup(col(strata), pct, col(scoreF),
          keys.map(col): _*).df)

    case AsofJoinStmt(a, il, kl, tl, ir, kr, tr, tol, dir) =>
      require(kl == kr,
        s"ASOF_JOIN: BY key lists must match on both sides " +
          s"(got ${kl.mkString(",")} vs ${kr.mkString(",")}) — " +
          "rename with FOREACH first")
      val (dfl, dfr) = (relation(il), relation(ir))
      // right payload = everything but the join keys and the time
      // column, joined under its own name; collisions with left columns
      // would silently shadow, so they fail fast
      val payload = dfr.columns.filterNot(c => kl.contains(c) || c == tr)
      val clash = payload.toSet.intersect(dfl.columns.toSet)
      require(clash.isEmpty,
        s"ASOF_JOIN: right column(s) ${clash.mkString(", ")} collide " +
          "with the left relation — alias them with FOREACH first")
      env(a) = Rel(() => graft.temporal.TemporalJoins.asofJoin(
        dfl, dfr, kl, tl, tr, payload.map(c => c -> c).toMap,
        direction = dir, toleranceMicros = tol))

    case IntervalJoinStmt(a, ip, pc, ii, lo, hi, w, ks, inc) =>
      val (dfp, dfi) = (relation(ip), relation(ii))
      env(a) = Rel(() => graft.temporal.TemporalJoins.intervalJoin(
        dfp, pc, dfi, lo, hi, bucketWidth = w, keys = ks,
        inclusiveHi = inc))

    case SessionizeStmt(a, in, k, ts, gap) =>
      val df = relation(in)
      env(a) = Rel(() =>
        graft.temporal.TemporalJoins.sessionize(df, k, ts, gap))

    case QuotaSampleStmt(a, in, strata, k, keys) =>
      val df = relation(in)
      env(a) = Rel(() => graft.core.Pipe(df)
        .quotaSampleByHash(col(strata), k, keys.map(col): _*).df)

    case MixtureStmt(a, in, strata, targets, keys) =>
      val df = relation(in)
      env(a) = Rel(() => graft.core.Pipe(df)
        .mixtureSampleByHash(col(strata), targets.toMap,
          keys.map(col): _*).df)

    case ScheduleStmt(a, in, h, u, d, dflt) =>
      val df = relation(in)
      env(a) = Rel(() => graft.text.Frontier.schedule(df,
        col(h), col(u), col(d), defaultDelaySec = dflt))

    case OverlapStmt(a, ia, ib, keyF, method) =>
      require(method == "exact" || method == "sketch",
        s"unknown OVERLAP method '$method' — expected exact or sketch")
      val (dfa, dfb) = (relation(ia), relation(ib))
      env(a) = Rel(() =>
        if (method == "sketch")
          graft.core.Overlap.sketch(dfa, col(keyF), dfb, col(keyF))
        else graft.core.Overlap.exact(dfa, col(keyF), dfb, col(keyF)))

    case ScoreStmt(a, in, idF, tF, weightsAlias, method, p) =>
      val df = relation(in)
      require(Set("classifier", "nb", "perceptron").contains(method),
        s"unknown SCORE method '$method' — expected classifier (nb) or " +
          "perceptron")
      val buckets = p.get("buckets").map(_.toInt).getOrElse(1024)
      val wdf = weightsAlias.map(relation) // resolved now: a later
      // rebinding of the weights alias must not change this statement
      env(a) = Rel(() => {
        val weights = wdf.getOrElse {
          val labelF = p.getOrElse("labels", sys.error(
            "SCORE without WITH <weights> needs labels=<field> to " +
              "train in-script"))
          val label = col(labelF)
          method match {
            case "classifier" | "nb" =>
              graft.text.Classifier.trainNaiveBayes(df, idF, tF, label,
                buckets)
            case "perceptron" =>
              graft.text.Classifier.trainPerceptron(df, idF, tF, label,
                buckets, epochs = p.get("epochs").map(_.toInt).getOrElse(3))
            case other => sys.error(
              s"unknown SCORE method '$other' — expected classifier " +
                "(nb) or perceptron")
          }
        }
        df.join(graft.text.Classifier.score(df, idF, tF, weights, buckets),
          Seq(idF))
      })

    case ProfileStmt(a, in, cs, method, p) =>
      val df = relation(in)
      env(a) = Rel(() => method match {
        // STREAMING input: the sketch regime is mergeable (HLL++ +
        // approx-percentile partials), so the SAME engine call runs as a
        // Complete-mode global aggregation; exact's multi-DISTINCT
        // Expand is not streamable — fail loudly
        case "exact" if df.isStreaming => sys.error(
          "PROFILE on a streaming relation supports USING sketch only " +
            "— exact needs multi-DISTINCT, which is not streamable")
        case "exact" => graft.core.Profile.exact(df, cs)
        case "sketch" => graft.core.Profile.sketch(df, cs,
          rsd = p.get("rsd").map(_.toDouble).getOrElse(0.05),
          pctAccuracy = p.get("accuracy").map(_.toInt).getOrElse(10000))
        case other => sys.error(
          s"unknown PROFILE method '$other' — expected exact or sketch")
      })

    case HeavyStmt(a, in, f, k, method, p) =>
      val df = relation(in)
      env(a) = Rel(() => if (df.isStreaming) method match {
        // STREAMING input: the audit runs ON the ingest stream. exact =
        // unbounded streaming count agg + the same deterministic top-k
        // (run the query in Complete mode); sketch = bounded Misra–Gries
        // state — the relation is the per-group SUMMARY stream, reduced
        // to the final top-k downstream of the sink
        // (Streams.heavyHittersTopK), because a stream cannot re-sort
        // its own past emissions.
        case "exact" =>
          graft.streaming.Streams.streamHeavyHittersExact(df, col(f), k)
        case "sketch" =>
          graft.streaming.Streams.streamHeavyHittersSketch(df, col(f),
            capacity = p.get("capacity").map(_.toInt).getOrElse(4096),
            numGroups = p.get("groups").map(_.toInt).getOrElse(32),
            stateTtlMs = p.get("ttlms").map(_.toLong).getOrElse(0L)).toDF()
        case other => sys.error(
          s"unknown HEAVY_HITTERS method '$other' — expected exact or sketch")
      } else method match {
        case "exact" => graft.core.HeavyHitters.exact(df, col(f), k)
        case "sketch" => graft.core.HeavyHitters.sketch(df, col(f), k,
          capacity = p.get("capacity").map(_.toInt).getOrElse(4096))
        case other => sys.error(
          s"unknown HEAVY_HITTERS method '$other' — expected exact or sketch")
      })

    case ClusterStmt(a, in, f, k, method, p) =>
      val df = relation(in)
      env(a) = Rel(() => method match {
        case "kmeans" => graft.ml.KMeans.assign(df, f, k,
          iters = p.get("iters").map(_.toInt).getOrElse(10),
          seed = p.get("seed").map(_.toLong).getOrElse(42L),
          sampleSize = p.get("sample").map(_.toInt).getOrElse(2048))
        case other => sys.error(
          s"unknown CLUSTER method '$other' — expected kmeans")
      })

    case CcStmt(a, in, f1, f2, maxIter) =>
      val df = relation(in)
      env(a) = Rel(() => graft.dedup.Dedup.connectedComponents(
        df.select(col(f1).as("id_a"), col(f2).as("id_b")),
        maxIter = maxIter))

    case PageRankStmt(a, in, s, d, iters) =>
      val df = relation(in)
      env(a) = Rel(() =>
        graft.graph.PageRank.pageRank(df, col(s), col(d), iters))

    case VisualizeStmt(in, field, path, ps, w, h, pointsOnly) =>
      val df = relation(in)
      graft.spatial.Visualize.scatter(df, compileExpr(df, field), path,
        w, h, ps.getOrElse(1), pointsOnly)

    case PartitionStmt(a, in, geomField, method, params) =>
      // partitioning is PHYSICAL: co-locate spatially but keep the
      // visible schema unchanged (the reference's Partitioner returns the
      // same tuples; spatialpartitioning.pig STOREs the relation as-is)
      val df = relation(in)
      val kv = params.flatMap(_.split("=", 2) match {
        case Array(k, v) => Some(k.toLowerCase -> v)
        case _ => None
      }).toMap
      val positional = params.filterNot(_.contains("="))
      // mixed forms would silently misassign: positional indices shift
      // after named params are removed (bsp(sideLength=2, 60) would drop
      // the 60) — reject the mix outright
      require(kv.isEmpty || positional.isEmpty,
        s"PARTITION $method params must be all-named or all-positional, " +
          s"got ${params.mkString(", ")}")
      def num(name: String, raw: String): Double =
        try raw.toDouble catch {
          case _: NumberFormatException => sys.error(
            s"PARTITION $method: $name must be numeric, got '$raw'")
        }
      method match {
        case "grid" =>
          // partitionsPerDimension=n -> n^2 target partitions (reference
          // SpatialGridPartitioner); default: cluster parallelism.
          // repartition BY EXPRESSION — no helper column is ever added,
          // so a pre-existing field named "cell" survives untouched
          val ppd = kv.get("partitionsperdimension")
            .orElse(positional.headOption)
            .map(v => num("partitionsPerDimension", v).toInt)
          ppd.foreach(n => require(n > 0,
            s"PARTITION grid: partitionsPerDimension must be > 0, got $n"))
          val nParts = ppd.map(n => n * n)
            .getOrElse(spark.sparkContext.defaultParallelism)
          env(a) = Rel(() => df.repartition(nParts,
            graft.spatial.Spatial.cellId(df(geomField), cellSize = 1.0)))
        case "bsp" =>
          // reference: STARK BSPartitioner(rdd, sideLength,
          // maxCostPerPartition, pointsOnly) — named or positional params
          val side = kv.get("sidelength").orElse(positional.headOption)
            .map(num("sideLength", _)).getOrElse(1.0)
          val maxCost = kv.get("maxcostperpartition")
            .orElse(positional.lift(1))
            .map(num("maxCostPerPartition", _).toLong).getOrElse(1000L)
          env(a) = Rel(() => graft.spatial.Spatial.bspPartition(
            df, geomField, side, maxCost))
        case "rtree" =>
          // bare `USING rtree(...)` was accepted pre-method-support as an
          // advisory index hint; keep it a no-op grid, not a hard error
          env(a) = Rel(() => df.repartition(
            spark.sparkContext.defaultParallelism,
            graft.spatial.Spatial.cellId(df(geomField), cellSize = 1.0)))
        case other => sys.error(
          s"unsupported PARTITION method '$other' (supported: grid, bsp)")
      }
  }

  private def isGroupRef(e: Expr): Boolean = e match {
    case FieldRef(p) => p.head == "group"
    case _ => false
  }

  /** Global aggregation without GROUP ALL (reference: op/Accumulate.scala;
    * also piglet's aggregate-without-grouping FOREACH —
    * src/it/resources/aggrwogrouping.pig). One partial-agg pass, no bag. */
  private def globalAgg(in: String, df: DataFrame,
                        items: Seq[GenItem]): DataFrame = {
    val g = GroupedRel(df, Nil, keyIsStruct = false, bagName = in)
    val aggs = items.map { i =>
      val rewritten = i.expr match {
        // bare-field refs: min(f1) ≡ min(in.f1)
        case FuncCall(fn, Seq(FieldRef(p))) if !p.headOption.contains(in) =>
          FuncCall(fn, Seq(FieldRef(in +: p)))
        case other => other
      }
      compileAgg(g, rewritten, i.as)
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** A FOREACH over an UNGROUPED relation whose generators are all
    * aggregate calls on scalar fields is piglet's aggregate-without-
    * grouping form — a global agg. Row-context COUNT/SUM over ARRAY (bag)
    * columns keeps the bag-function meaning. */
  private def isGlobalAggForeach(df: DataFrame, items: Seq[GenItem]): Boolean = {
    def scalarField(e: Expr): Boolean = e match {
      case FieldRef(Seq(f)) => df.columns.contains(f) &&
        !df.schema(f).dataType.isInstanceOf[ArrayType]
      case _ => false
    }
    items.nonEmpty && items.forall(_.expr match {
      case FuncCall(fn, Seq(arg)) if aggFns(fn) => scalarField(arg)
      case FuncCall(fn, Seq(Star)) => fn == "COUNT" || fn == "COUNT_STAR"
      case _ => false
    })
  }

  /** Element predicate for nested FILTER: refs resolve against the array
    * element (struct field or the element itself for scalar bags). */
  private def compileElemPred(x: Column, cond: Expr): Column = cond match {
    case BinOp(op, l, r) =>
      def side(e: Expr): Column = e match {
        case FieldRef(p) => p.foldLeft(x)((c, f) => c.getField(f))
        case PosRef(_) => x
        case Lit(v) => lit(v)
        case other => sys.error(s"unsupported nested filter expr $other")
      }
      val (a, b) = (side(l), side(r))
      op match {
        case "==" => a === b; case "!=" => a =!= b
        case "<" => a < b; case "<=" => a <= b
        case ">" => a > b; case ">=" => a >= b
        case "and" => compileElemPred(x, l) && compileElemPred(x, r)
        case "or" => compileElemPred(x, l) || compileElemPred(x, r)
      }
    case other => sys.error(s"unsupported nested filter $other")
  }

  /** FOREACH ... GENERATE with FLATTEN support (non-grouped row context). */
  private def compileForeach(df: DataFrame, items0: Seq[GenItem]): DataFrame = {
    // GENERATE * keeps the flat schema (Star as a FUNCTION ARG still
    // means the whole tuple)
    val items = items0.flatMap {
      case GenItem(Ast.Star, None, _) =>
        df.columns.toSeq.map(c => GenItem(FieldRef(Seq(c)), None))
      case other => Seq(other)
    }
    // `AS name:type` in GENERATE DECLARES, it does not cast — Pig only
    // coerces on LOAD's AS; casts need the explicit (type) operator. The
    // reference agrees: rscript.pig's `$2 AS cluster: int` over a double
    // matrix stores 4.0 in truth/cluster.data, not 4. The parsed type is
    // kept on GenItem as intent documentation only.
    val hasFlatten = items.exists(i => containsFlatten(i.expr))
    if (!hasFlatten) {
      df.select(items.map(i =>
        compileExpr(df, i.expr).as(i.as.getOrElse(exprName(i.expr)))): _*)
    } else {
      // explode each FLATTEN left-to-right (cross of bags, Pig semantics)
      var cur = df
      val outCols = scala.collection.mutable.ArrayBuffer.empty[(String, Column)]
      items.zipWithIndex.foreach { case (i, idx) =>
        i.expr match {
          case Flatten(inner) =>
            val c = compileExpr(cur, inner)
            val tmp = s"__fl$idx"
            cur = cur.withColumn(tmp, explode(c))
            val elemType = cur.schema(tmp).dataType
            elemType match {
              case st: StructType if i.as.isEmpty =>
                st.fieldNames.foreach(f =>
                  outCols += ((f, col(tmp).getField(f))))
              case _ =>
                outCols += ((i.as.getOrElse(exprName(inner)), col(tmp)))
            }
          case e =>
            outCols += ((i.as.getOrElse(exprName(e)), compileExpr(cur, e)))
        }
      }
      cur.select(outCols.map { case (n, c) => c.as(n) }.toIndexedSeq: _*)
    }
  }

  private def containsFlatten(e: Expr): Boolean = e match {
    case Flatten(_) => true
    case _ => false
  }

  // ---- LOAD / STORE --------------------------------------------------------
  private def load(path: String, loader: Option[(String, Seq[String])],
                   schema: Option[Seq[FieldSchema]]): DataFrame = {
    val (name, args) = loader.getOrElse(("PigStorage", Seq("\t")))
    val raw = name match {
      // PigStream is the reference's stream-flavored PigStorage — same
      // line format (sparklib Storage.scala)
      case "PigStorage" | "PigStream" =>
        // quote disabled: PigStorage is a PLAIN split — '"Ling"' keeps
        // its quotes (the csv default would strip them)
        val csv = spark.read
          .option("delimiter", args.headOption.getOrElse("\t"))
          .option("quote", "").option("header", "false")
        // a declared AS clause binds positionally, so an all-string schema
        // of its names replaces the reader's first-line inference job;
        // PERMISSIVE mode then pads each short row with nulls and drops a
        // long row's extra tokens — PigStorage's per-line semantics
        schema.fold(csv)(fs => csv.schema(StructType(
          fs.map(f => StructField(f.name, StringType))))).csv(path)
      case "TextLoader" => spark.read.text(path)
      case "JsonStorage" => spark.read.json(path)
      // the schema comes from Tables' per-session cache: no footer-reading
      // inference job while the files stay unchanged
      case "BinStorage" | "ParquetStorage" =>
        spark.read.schema(graft.core.Tables.schemaAt(spark, path)).parquet(path)
      case "RDFFileStorage" => graft.rdf.Rdf.loadNTriplesRaw(spark, path)
      // WARC crawl segments (graft dialect): full record schema; project
      // with FOREACH (payload is `content` binary). 'stream' makes the
      // relation a live file-stream over landing segments — downstream
      // statements already route by isStreaming (DEDUP/HEAVY_HITTERS/
      // PROFILE/MATCH_EVENT)
      case "WarcStorage" if args.exists(_.equalsIgnoreCase("stream")) =>
        graft.sources.Warc.readStream(spark, path)
      case "WarcStorage" => graft.sources.Warc.read(spark, path)
      // tar/tgz/zip corpora (graft dialect): (archive, entry, size,
      // content) rows, one task per archive
      case "TarStorage" => graft.sources.Archives.readTar(spark, path)
      // reference jdbc.pig: LOAD 'table' USING JdbcStorage(driver, url)
      case "JdbcStorage" =>
        spark.read.format("jdbc")
          .option("driver", args(0)).option("url", args(1))
          .option("dbtable", path).load()
      case other => spark.read.format(other.toLowerCase).load(path)
    }
    schema.fold(raw) { fs =>
      // complex AS types (tuple/bag/map) keep the source's own nested
      // type — a cast to a flat SQL type would destroy the structure
      val complex = Set("tuple", "bag", "map")
      // JsonStorage resolves the AS clause BY NAME (a JSON object has no
      // positional order — Spark surfaces keys alphabetically); every
      // other loader binds POSITIONALLY even when names coincide, per Pig
      // semantics: extra source fields are ignored (reference PigStorage:
      // a split line's trailing tokens beyond the AS clause — e.g.
      // N-Triples' terminating '.' — are dropped) and MISSING trailing
      // fields load as nulls (PigStorage pads short rows)
      val named =
        if (name == "JsonStorage" && fs.forall(f => raw.columns.contains(f.name)))
          raw.select(fs.map(f => col(s"`${f.name}`")).toIndexedSeq: _*)
        else {
          val pad = Seq.fill(math.max(0, fs.length - raw.columns.length))(lit(null))
          raw.select((raw.columns.take(fs.length).map(c => col(s"`$c`")) ++ pad)
            .toIndexedSeq: _*)
            .toDF(fs.map(_.name): _*)
        }
      named.select(fs.map { f =>
        if (complex(f.typeName)) col(s"`${f.name}`")
        else {
          val cast = col(s"`${f.name}`").cast(sparkType(f.typeName))
          if (f.typeName == "chararray") cast.as(f.name, chararrayMeta)
          else cast.as(f.name)
        }
      }.toIndexedSeq: _*)
    }
  }

  private def storeFormat(loader: Option[(String, Seq[String])])
      : (String, Map[String, String]) =
    loader match {
      case Some((n, args)) if n == "PigStorage" || n == "PigStream" =>
        ("csv", Map("delimiter" -> args.headOption.getOrElse("\t")))
      case Some(("JsonStorage", _)) => ("json", Map.empty)
      case Some(("BinStorage", _)) | Some(("ParquetStorage", _)) =>
        ("parquet", Map.empty)
      case None => ("csv", Map("delimiter" -> "\t"))
      case Some((other, _)) => (other.toLowerCase, Map.empty)
    }
}

/** Public entry: run Pig Latin scripts against Spark (the piglet
  * interpreter analog — reference: PigletInterpreterAPI / spark backend). */
object PigScript {
  /** `$name` replacement that stops at identifier boundaries — a bare
    * String.replace would let param "p" corrupt "$p2" into "52"
    * depending on Map iteration order. */
  private def substParam(s: String, name: String, value: String): String =
    ("""\$""" + java.util.regex.Pattern.quote(name) + """(?![A-Za-z0-9_])""").r
      .replaceAllIn(s, java.util.regex.Matcher.quoteReplacement(value))

  private val macroHeadRe =
    """(?is)DEFINE\s+([A-Za-z_]\w*)\s*\(([^)]*)\)\s+RETURNS\s+([A-Za-z_]\w*)\s*\{""".r
  private val invokeRe =
    """(?m)^\s*([A-Za-z_]\w*)\s*=\s*([A-Za-z_]\w*)\s*\(([^)]*)\)\s*;""".r
  private val importRe = """(?i)IMPORT\s+'([^']+)'\s*;""".r

  /** DEFINE name(params) RETURNS out { body }; — textual expansion, the
    * macro model of the reference (op/MacroOp.scala). The body is
    * extracted by BRACE COUNTING, not a non-greedy regex: a nested
    * FOREACH { ...; }; block inside the macro would otherwise truncate
    * the body at the inner `};` and leave dangling statements. (Braces
    * inside string literals would still miscount — same caveat as every
    * textual macro processor.) */
  private[graft] def expandMacros(script: String): String = {
    val macros =
      scala.collection.mutable.LinkedHashMap.empty[String, (Seq[String], String, String)]
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var lastEnd = 0
    macroHeadRe.findAllMatchIn(script).foreach { m =>
      if (m.start >= lastEnd) { // skip headers nested inside a prior body
        var depth = 1
        var j = m.end // just past the opening '{'
        while (j < script.length && depth > 0) {
          script(j) match {
            case '{' => depth += 1
            case '}' => depth -= 1
            case _ => ()
          }
          j += 1
        }
        if (depth == 0) {
          val body = script.substring(m.end, j - 1)
          var k = j
          while (k < script.length && script(k).isWhitespace) k += 1
          if (k < script.length && script(k) == ';') k += 1
          macros(m.group(1)) =
            (m.group(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq,
              m.group(3), body)
          spans += ((m.start, k))
          lastEnd = k
        }
      }
    }
    val stripped = {
      val b = new StringBuilder
      var pos = 0
      spans.foreach { case (s, e) =>
        b.append(script.substring(pos, s)); pos = e }
      b.append(script.substring(pos))
      b.toString
    }
    if (macros.isEmpty) stripped
    else invokeRe.replaceAllIn(stripped, m =>
      java.util.regex.Matcher.quoteReplacement(macros.get(m.group(2)) match {
        case Some((params, outAlias, body)) =>
          val args = m.group(3).split(",").map(_.trim)
          val bound = params.zip(args).foldLeft(body) { case (b, (p, a)) =>
            substParam(b, p, a) }
          substParam(bound, outAlias, m.group(1))
        case None => m.matched
      }))
  }

  /** IMPORT 'file.pig'; — inline the file, RECURSIVELY (imported files may
    * themselves IMPORT, as in the reference's PigletCompiler.resolveImports).
    * Relative paths resolve against the importing file's directory first
    * (so nested imports work from anywhere), then `importBase`. Cycles
    * fail fast with the offending chain instead of recursing forever. */
  private[graft] def expandImports(script: String,
                                   importBase: Option[String]): String =
    expandImportsRec(script, importBase, importBase, Vector.empty)

  private def expandImportsRec(script: String, base: Option[String],
                               rootBase: Option[String],
                               chain: Vector[java.nio.file.Path]): String =
    importRe.replaceAllIn(script, m => {
      val raw = java.nio.file.Paths.get(m.group(1))
      // importing file's directory first, then the root importBase
      // (nested files may reference siblings OR project-root paths)
      val resolved =
        if (raw.isAbsolute) raw
        else (base.toSeq ++ rootBase.toSeq).distinct
          .map(b => java.nio.file.Paths.get(b).resolve(raw))
          .find(java.nio.file.Files.exists(_)).getOrElse(raw)
      val real = resolved.toAbsolutePath.normalize()
      if (chain.contains(real))
        sys.error(s"IMPORT cycle: ${(chain :+ real).mkString(" -> ")}")
      val body = java.nio.file.Files.readString(resolved)
      java.util.regex.Matcher.quoteReplacement(
        expandImportsRec(body, Some(real.getParent.toString), rootBase,
          chain :+ real))
    })

  /** Inline IMPORTs, substitute `$param`s, expand macros, compile embedded
    * Scala, parse, execute; returns the compiler holding every alias.
    * Imports resolve BEFORE params (reference PigletCompiler
    * createDataflowPlan:203-212 does resolveImports, then
    * replaceParameters line-by-line) so `$param` references inside
    * imported files substitute too. */
  def run(spark: SparkSession, script: String,
          params: Map[String, String] = Map.empty,
          tables: Map[String, DataFrame] = Map.empty,
          udos: Map[String, DataFrame => DataFrame] = Map.empty,
          importBase: Option[String] = None,
          udosWithArgs: Map[String, (Seq[String], DataFrame) => DataFrame] =
            Map.empty): PigCompiler = {
    val inlined = expandImports(script, importBase)
    val imported = params.foldLeft(inlined) { case (s, (k, v)) =>
      substParam(s, k, v) }
    val expanded = expandMacros(imported)
    val (cleaned, embedded) = EmbeddedCode.extract(expanded)
    val compiler = new PigCompiler(spark)
    compiler.embeddedUdfs ++= embedded
    tables.foreach { case (n, df) => compiler.defineRelation(n, df) }
    udos.foreach { case (n, f) => compiler.registerUdo(n, f) }
    udosWithArgs.foreach { case (n, f) => compiler.registerUdo(n, f) }
    compiler.run(PigParser.parseScript(cleaned))
    compiler
  }

  /** Convenience: run and return one alias as a DataFrame. */
  def query(spark: SparkSession, script: String, alias: String,
            params: Map[String, String] = Map.empty,
            tables: Map[String, DataFrame] = Map.empty): DataFrame =
    run(spark, script, params, tables).relation(alias)
}

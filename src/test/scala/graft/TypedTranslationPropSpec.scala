package graft

import scala.collection.mutable

import org.apache.spark.{SparkException, SparkThrowable}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{ArrayType, DataType}

import graft.core.ValueType
import graft.sources.Sinks
import graft.sql.{SqlEngine, SqlGen}

/** The Translator types each expression statically, from the declared
  * column types, instead of asking Spark. This property checks that
  * static type against Spark's resolved type for every generated SELECT
  * (fixed seed, [[SqlGen]]) that the engine translates and Spark
  * resolves: INTERVAL must be LongType, the NULL literal NullType, and
  * every other type its own Spark type. Array nullability is ignored.
  * A second property checks `::text` against the text sink over the
  * same expressions: both print a value through `ValueFormat.display`. */
class TypedTranslationPropSpec extends SparkSpec {
  import spark.implicits._

  private def shape(t: DataType): DataType = t match {
    case ArrayType(e, _) => ArrayType(shape(e), containsNull = true)
    case other => other
  }

  test("static types of translated expressions match Spark's resolved types") {
    val eng = new SqlEngine(spark)
    eng.addTables(SqlGen.Ddl)
    val lines = SqlGen.Lines.toDF("value").cache()
    var resolved = 0
    val rejected = mutable.Map[String, Int]().withDefaultValue(0)
    val wrong = mutable.ArrayBuffer[String]()
    SqlGen.queries(2400, 800, seed = 17L).foreach { q =>
      try {
        val (df, types) = eng.typedQuery(q, lines)
        resolved += 1
        val got = df.schema.fields.toSeq.map(f => shape(f.dataType))
        if (got != types.map(t => shape(t.spark)))
          wrong += s"$q\n  static ${types.map(_.name).mkString(", ")}" +
            s" / Spark ${got.map(_.simpleString).mkString(", ")}"
      } catch {
        // the engine's own rejections, and Spark's (an analysis error, or
        // an internal error for a few unresolvable function inputs)
        case e @ (_: IllegalArgumentException | _: AnalysisException | _: SparkException) =>
          rejected(e.getClass.getSimpleName) += 1
      }
    }
    assert(wrong.isEmpty, s"${wrong.size} of $resolved mistyped:\n" + wrong.take(25).mkString("\n"))
    assert(resolved >= 2000, s"only $resolved resolved; rejected: $rejected")
  }

  test("::text of a non-TEXT value is its text-sink rendering, and NULL of a NULL") {
    val eng = new SqlEngine(spark)
    eng.addTables(SqlGen.Ddl)
    val lines = SqlGen.Lines.toDF("value").cache()
    val nonText = SqlGen.queries(2400, 0, seed = 17L)
      .map(_.stripPrefix("SELECT ").stripSuffix(" AS c FROM t")).distinct.filter { e =>
        try eng.typedQuery(s"SELECT $e AS c FROM t", lines)._2.head != ValueType.TextT
        catch { case _: IllegalArgumentException | _: SparkThrowable => false } // rejected
      }
    var compared = 0
    val wrong = mutable.ArrayBuffer[String]()
    // Expressions run in batches, `SELECT e0 AS c0, (e0)::text AS x0, ...`,
    // where x_i is NULL iff e_i is, and whose text-sink lines must read
    // `c0: v, x0: 'v'` (or NULL for both) where v is x0's value. The batch is cached so `now()` is one
    // value in both reads. A batch that fails at run time (an array index
    // of 0 raises) or disagrees is split until the expression at fault
    // is alone.
    def check(es: Seq[String]): Unit = try {
      val df = eng.query(es.zipWithIndex.map { case (e, i) =>
        s"$e AS c$i, ($e)::text AS x$i" }.mkString("SELECT ", ", ", " FROM t"), lines).cache()
      val (rows, printed) = try (df.collect().toSeq, Sinks.text(df).as[String].collect().toSeq)
      finally df.unpersist()
      val texts = rows.map(r => es.indices.map(i => Option(r.getString(2 * i + 1))))
      val nullsAgree = rows.forall(r => es.indices.forall(i => r.isNullAt(2 * i) == r.isNullAt(2 * i + 1)))
      val expected = texts.map(_.zipWithIndex.map { case (x, i) =>
        s"c$i: ${x.getOrElse("NULL")}, x$i: ${x.fold("NULL")(v => s"'$v'")}" }.mkString(", "))
      if (nullsAgree && printed.sorted == expected.sorted) compared += texts.flatten.flatten.size
      else if (es.size > 1) es.foreach(e => check(Seq(e)))
      else wrong += es.head + printed.mkString("\n  ", "\n  ", "")
    } catch {
      case _: SparkThrowable if es.size > 1 => es.grouped((es.size + 1) / 2).foreach(check)
      case _: SparkThrowable =>
    }
    // interpreted: each batch's code would be compiled for one use, and
    // the values are Spark's either way
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try nonText.grouped(8).foreach(check)
    finally Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode").foreach(spark.conf.unset)
    assert(wrong.isEmpty, s"${wrong.size} expressions differ:\n" + wrong.take(25).mkString("\n"))
    assert(compared >= 1500, s"only $compared non-NULL values compared")
  }

  test("every declarable type parses back from its name, nested arrays included") {
    import ValueType._
    val scalars = Seq(IntT, RealT, BoolT, TextT, TimestampT, IntervalT)
    val all = scalars ++ scalars.map(ArrayT(_)) ++ scalars.map(t => ArrayT(ArrayT(t)))
    all.foreach(t => assert(ValueType.parse(t.name) === t))
    assert(ValueType.parse(" REAL[][] ") === ArrayT(ArrayT(RealT)))
    assert(intercept[IllegalArgumentException](ValueType.parse("null")).getMessage ===
      "unknown type: null")
  }
}

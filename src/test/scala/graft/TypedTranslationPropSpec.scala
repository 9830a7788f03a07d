package graft

import scala.collection.mutable

import org.apache.spark.SparkException
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{ArrayType, DataType}

import graft.core.ValueType
import graft.sql.{SqlEngine, SqlGen}

/** The Translator types each expression statically, from the declared
  * column types, instead of asking Spark. This property checks that
  * static type against Spark's resolved type for every generated SELECT
  * (fixed seed, [[SqlGen]]) that the engine translates and Spark
  * resolves: INTERVAL must be LongType, the NULL literal NullType, and
  * every other type its own Spark type. Array nullability is ignored. */
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

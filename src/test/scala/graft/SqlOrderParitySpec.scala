package graft

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.sql.{SqlEngine, SqlReference}

/** A grouped SELECT returns its rows in group-key order (the reference's
  * BTreeMap, SURVEY §2.5 A14), produced inside the one post-aggregate
  * task. Over generated logs whose TEXT and INT keys are sometimes NULL,
  * one- and two-key GROUP BYs with HAVING, DISTINCT+HAVING, LIMIT and an
  * INNER JOIN must return exactly the rows of the global-`orderBy`
  * reference ([[SqlReference]]), in the same order. Cases come from a
  * fixed seed and all run on the shared session. */
class SqlOrderParitySpec extends SparkSpec {
  import spark.implicits._

  private val Ddl =
    """CREATE TABLE ev(
      |    line = 'ev(?: k=(\\w+))?(?: i=(-?\\d+))? v=(\\d+)',
      |    line[1] => k TEXT,
      |    line[2] => i INT,
      |    line[3] => v INT
      |);
      |CREATE TABLE kdim(
      |    line = 'dim (\\w+)(?: grp (\\w+))?',
      |    line[1] => dk TEXT,
      |    line[2] => grp TEXT
      |);""".stripMargin

  /** Byte order is not case-folded: "B" < "Zz" < "a". */
  private val textKeys = Seq("a", "b", "B", "ab", "z", "Zz", "m0")

  /** Every third dimension row has no group, so `grp` keys can be NULL. */
  private lazy val dim: DataFrame = spark.sparkContext.parallelize(textKeys.zipWithIndex.map {
    case (k, j) => if (j % 3 == 2) s"dim $k" else s"dim $k grp g${j % 2}"
  }, 1).toDF("value")

  /** One grouped SELECT, `unlimited` plus its LIMIT; `keys` are its key
    * output columns. */
  private final case class Case(shape: String, keys: Seq[String], lines: Seq[String],
      unlimited: String, limit: Option[Int] = None) {
    def sql: String = unlimited + limit.fold("")(n => s" LIMIT $n")
    def join: Boolean = shape == "join"
  }

  private def opt[T](g: Gen[T]): Gen[Option[T]] =
    Gen.frequency(1 -> Gen.const(None), 3 -> g.map(Some(_)))

  private val lineGen: Gen[String] = for {
    k <- opt(Gen.oneOf(textKeys))
    i <- opt(Gen.choose(-3, 3))
    v <- Gen.choose(0, 20)
    noise <- Gen.frequency(9 -> false, 1 -> true)
  } yield
    if (noise) s"noise v=$v"
    else "ev" + k.fold("")(x => s" k=$x") + i.fold("")(x => s" i=$x") + s" v=$v"

  /** (GROUP BY list, projected keys, key output names) over `ev`. */
  private val evKeys: Gen[(String, String, Seq[String])] = Gen.oneOf(
    ("k", "k", Seq("k")),
    ("i", "i AS ikey", Seq("ikey")),
    ("k, i", "k, i", Seq("k", "i")),
    ("i, k", "i AS ikey, k", Seq("ikey", "k")))

  private val caseGen: Gen[Case] = for {
    lines <- Gen.choose(0, 40).flatMap(Gen.listOfN(_, lineGen))
    ek <- evKeys
    shape <- Gen.oneOf("having", "distinct_having", "limit", "join")
    t <- Gen.choose(0, 3)
    n <- Gen.choose(1, 5)
    twoKeys <- Gen.oneOf(false, true)
  } yield {
    val (group, proj, names) = ek
    shape match {
      case "having" => Case(shape, names, lines,
        s"SELECT $proj, COUNT() AS c, SUM(v) AS s FROM ev GROUP BY $group HAVING COUNT() > $t")
      case "distinct_having" => Case(shape, names, lines,
        s"SELECT DISTINCT $proj, COUNT() / 2 AS b FROM ev GROUP BY $group HAVING SUM(v) > ${t * 5}")
      case "limit" => Case(shape, names, lines,
        s"SELECT $proj, MAX(v) AS mx FROM ev GROUP BY $group", Some(n))
      case _ =>
        if (twoKeys) Case(shape, Seq("k", "grp"), lines,
          "SELECT ev.k AS k, kdim.grp AS grp, COUNT() AS c, SUM(ev.v) AS s FROM ev " +
            "INNER JOIN kdim ON ev.k = kdim.dk GROUP BY ev.k, kdim.grp")
        else Case(shape, Seq("grp"), lines,
          "SELECT kdim.grp AS grp, COUNT() AS c FROM ev INNER JOIN kdim ON ev.k = kdim.dk " +
            s"GROUP BY kdim.grp HAVING COUNT() > $t")
    }
  }

  private val N = 200
  private lazy val cases: Seq[Case] =
    Gen.listOfN(N, caseGen).pureApply(Gen.Parameters.default, Seed(20261019L))

  test(s"grouped rows equal the global-orderBy reference, row for row ($N cases)") {
    val engine = new SqlEngine(spark)
    engine.addTables(Ddl)
    def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)
    var ordered, withNullKey = 0
    cases.zipWithIndex.foreach { case (c, n) =>
      val lines = spark.sparkContext.parallelize(c.lines, 3).toDF("value")
      val joinLines = if (c.join) Some(dim) else None
      val got = rows(engine.query(c.sql, lines, joinLines))
      val unlimited = engine.query(c.unlimited, lines, joinLines)
      val want = rows(SqlReference.keyOrdered(unlimited, c.keys, c.limit))
      assert(got === want, s"case $n: ${c.sql}\nlines: ${c.lines.mkString(" | ")}")
      if (got.size > 1) ordered += 1
      if (got.exists(_.take(c.keys.size).contains(null))) withNullKey += 1
    }
    // the generator reaches every shape with one and two keys, and enough
    // multi-row and NULL-key results for the order to be tested
    val kinds = cases.map(c => (c.shape, c.keys.size)).toSet
    assert(kinds === (for (s <- Seq("having", "distinct_having", "limit", "join");
      k <- Seq(1, 2)) yield (s, k)).toSet)
    assert(ordered > N / 2 && withNullKey > N / 4, s"ordered=$ordered withNullKey=$withNullKey")
  }
}

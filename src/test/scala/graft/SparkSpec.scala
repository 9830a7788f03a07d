package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites — one JVM-wide SparkSession. */
object SparkSpec {
  lazy val spark: SparkSession =
    GraftSession.builder("local[4]", shufflePartitions = 4)
      .appName("graft-test")
      .getOrCreate()
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSpec.spark
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Evaluates `f` with the session's FusePackedTokenGen rule excluded,
    * through Spark's own `spark.sql.optimizer.excludedRules`. */
  def withoutTokenFusion[T](f: => T): T = {
    val key = "spark.sql.optimizer.excludedRules"
    spark.conf.set(key, "graft.functions.FusePackedTokenGen")
    try f finally spark.conf.unset(key)
  }

  /** Evaluates `f` on a new `java.io.tmpdir` directory named `prefix*`,
    * then deletes the directory with everything written into it. */
  def withTempDir[T](prefix: String)(f: Path => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try f(dir) finally {
      val walk = Files.walk(dir)
      try walk.sorted(Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally walk.close()
    }
  }
}

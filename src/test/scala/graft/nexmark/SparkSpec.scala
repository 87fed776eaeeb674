package graft.nexmark

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs (kept alive across suites — sbt
  * forks one test JVM; getOrCreate reuses it). Built by the same factory
  * as every main, pinned to 4 threads whatever SPARK_GRAFT_CPUS says.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.GraftSession(cpus = 4)

  /** Run `body` on the RocksDB state store provider, then restore the
    * session's provider (also when `body` throws). */
  def withRocksDB[T](body: => T): T =
    graft.GraftSession.withConf(spark)("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)
}

package ptx.stream

import org.apache.spark.sql.SparkSession

/** Scoped RocksDB state-store provider for tests, through
  * [[ptx.Jobs.withConf]]: a missed restore would silently change the
  * provider for every later test in the shared session.
  */
object RocksDBFixture {
  def withRocksDB[A](spark: SparkSession)(body: => A): A =
    ptx.Jobs.withConf(spark, "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")(body)
}

package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs — one JVM-wide session, the same
  * [[Session.local]] configuration Verify and Bench run under, at two
  * cores.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session.local(2)

  /** sf0.001 testdata — smallest scale, for specs that read real tables. */
  val sfDir = "/root/testdata/sf0.001"

  /** `ts` → micro-epoch BIGINT selectExpr fragment, valid for both
    * physical generations of events.parquet (legacy TIMESTAMP(NANOS)
    * arriving as nano-long under the session's nanosAsLong flag, and
    * timestamp[us] arriving as TIMESTAMP_NTZ) — the spec-side mirror of
    * Tables.events' normalization, so brute recomputations stay
    * independent of the production reader but agree on the unit. */
  lazy val tsMicros: String = {
    val t = spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
    if (t == org.apache.spark.sql.types.LongType) "(ts div 1000)"
    else "unix_micros(CAST(ts AS TIMESTAMP))"
  }

  /** Run `body` with the RocksDB state store provider — the 100 TB-state
    * posture (million-key dedup/profile/heavy-hitter state does not fit
    * the default in-heap HDFS-backed provider). Restores the prior
    * provider afterwards so specs stay order-independent. */
  def withRocksDb[T](body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }
}

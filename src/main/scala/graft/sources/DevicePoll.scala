package graft.sources

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

/** Simulated per-device fan-out source (SURVEY.md §2 S5/S6, §4.3).
  *
  * The reference polls each printer sequentially over SNMP/HTTP
  * (plugins/tonerFinder/toner_hp.py:75-93 — one device at a time,
  * worst case timeout×retries ≈ 60 s per offline device,
  * adapters/snmp_client.py:11-12). Here the fan-out is a Dataset
  * `mapPartitions` over the device table, inside the caller's Catalyst
  * plan (it runs with the caller's action), with one poller per task slot
  * (a slot runs one task at a time, so more partitions than slots add
  * tasks, not concurrent pollers); per-device failure degrades to zero
  * rows (the reference's try/except→offline default,
  * toner_hp.py:62-66) instead of failing the job.
  *
  * Scale notes:
  *  - the filters P3/P4 MUST be applied before calling this (Catalyst
  *    cannot push predicates through the opaque partition function);
  *  - concurrent network clients are bounded by the session's task
  *    slots (`defaultParallelism`: N for `local[N]`, the executor cores
  *    on a cluster), independent of the table's upstream partitioning;
  *  - this is the only poll path: callers narrow the device frame
  *    before the fan-out (`DocumentIngest.withValidIp`, `isin` lists),
  *    so a pushdown-capable source would add a second implementation
  *    of dedup, fan-out and failure handling without polling fewer
  *    devices.
  *
  * Network clients are out of scope (zero-egress build): `DeviceClient`
  * is the seam, and `DeterministicSnmpFake` produces stable
  * SNMP-shaped walks keyed by device IP so every test is reproducible.
  */
trait DeviceClient extends Serializable {
  /** Walk `baseOid` on one device → (oid, value) rows; may throw. */
  def walk(ip: String, baseOid: String): Seq[(String, String)]
}

object DevicePoll {

  val WalkSchema: StructType = StructType(Seq(
    StructField("ip", StringType, nullable = false),
    StructField("oid", StringType, nullable = false),
    StructField("value", StringType, nullable = true)))

  /** Fan out `client.walk(ip, baseOid)` across one poller per task
    * slot. Input: any DataFrame with a string `ip` column
    * (deduplicated — one poll per device even if upstream has repeats).
    * One shuffle hashes every copy of an IP into the same poller, which
    * then polls each distinct IP of its partition once. The fan-out is
    * a Dataset `mapPartitions`, so it stays inside the caller's plan:
    * nothing runs until an action, and two walks over the same devices
    * share one IP shuffle. */
  def walk(spark: SparkSession, devices: DataFrame, baseOid: String,
      client: DeviceClient): DataFrame =
    devices.select("ip")
      .repartition(spark.sparkContext.defaultParallelism, col("ip"))
      .mapPartitions { it =>
        it.map(_.getString(0)).distinct.flatMap { ip =>
          Try(client.walk(ip, baseOid)) match {
            case Success(rows) => rows.iterator.map { case (o, v) => Row(ip, o, v) }
            case Failure(_)    => Iterator.empty // degrade, don't abort
          }
        }
      }(Encoders.row(WalkSchema))
}

/** Deterministic SNMP supplies+colorant fixture generator. Emulates the
  * table shapes the reference scrapes (SURVEY.md §1.2: supplies rows
  * under 43.11.1.1 with columns 3=colorant-link 5=type 6=desc 7=unit
  * 8=max 9=level; colorant names under 43.12.1.1.4). Devices whose ip
  * hashes to 0 mod `failEvery` simulate unreachable hosts (throw). */
final class DeterministicSnmpFake(failEvery: Int = 17) extends DeviceClient {
  private val Colors = Seq("black", "cyan", "magenta", "yellow")

  override def walk(ip: String, baseOid: String): Seq[(String, String)] = {
    val h = math.abs(ip.hashCode)
    if (failEvery > 0 && h % failEvery == 0)
      throw new java.io.IOException(s"timeout polling $ip")
    val nCart = 1 + (h % 4) // mono → 4-color device
    if (baseOid.endsWith("43.11.1.1")) {
      // supplies OID layout: base.{col}.{dev}.{rowIdx}; columns 2/3
      // carry the row's marker/colorant link VALUES (snmp_toner.py:9)
      (1 to nCart).flatMap { row =>
        val level = (h / row) % 111 - 5 // some negatives → sentinel path
        val max = if (row % 3 == 0) 0 else 100 + (h % 5) * 50
        val unit = if (row % 2 == 0) 19 else 7
        Seq(
          s"$baseOid.2.1.$row" -> "1",          // marker index
          s"$baseOid.3.1.$row" -> row.toString, // colorant link
          s"$baseOid.5.1.$row" -> (if (row == 4) "5" else "3").toString,
          s"$baseOid.6.1.$row" -> s"${Colors((row - 1) % 4)} cartridge ${ip}",
          s"$baseOid.7.1.$row" -> unit.toString,
          s"$baseOid.8.1.$row" -> max.toString,
          s"$baseOid.9.1.$row" -> level.toString)
      }
    } else if (baseOid.endsWith("43.12.1.1.4")) {
      // colorant OID layout: base.{dev}.{marker}.{color}, dev == 1
      (1 to nCart).map(i => s"$baseOid.1.1.$i" -> Colors((i - 1) % 4))
    } else Seq.empty
  }
}

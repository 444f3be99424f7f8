package fleetbench

import java.util.concurrent.atomic.LongAdder

import graft.sources.DeviceClient

/** In-process stand-in for the printers' SNMP agents. A printer's
  * answers are re-derived from its IP through [[FleetGen]], so the client
  * holds no fleet data. Each walk holds the calling task thread for the
  * simulated round trip `rttMs`; an unreachable device holds it for
  * `timeoutMs` and then throws, the way a poller's socket timeout does. */
final class SimDeviceClient(seed: Long, rttMs: Int, timeoutMs: Int)
    extends DeviceClient {

  override def walk(ip: String, baseOid: String): Seq[(String, String)] = {
    val i = FleetGen.indexOfIp(ip)
    SimDeviceClient.calls.increment()
    if (!FleetGen.reachable(seed, i)) {
      hold(timeoutMs)
      SimDeviceClient.failed.increment()
      throw new java.io.IOException(s"timeout polling $ip")
    }
    hold(rttMs)
    val model = FleetGen.model(seed, i)
    val rows = baseOid match {
      case FleetGen.SuppliesBase => FleetGen.suppliesWalk(seed, i, model)
      case FleetGen.ColorantBase => FleetGen.colorantWalk(seed, i, model)
      case other => throw new IllegalArgumentException(s"unknown OID $other")
    }
    SimDeviceClient.rows.add(rows.length)
    rows
  }

  private def hold(ms: Int): Unit =
    if (ms > 0) {
      val t0 = System.nanoTime()
      Thread.sleep(ms)
      SimDeviceClient.waitNs.add(System.nanoTime() - t0)
    }
}

/** Counters the client reports (one JVM: local mode runs tasks here). */
object SimDeviceClient {
  val calls = new LongAdder
  val failed = new LongAdder
  val rows = new LongAdder
  val waitNs = new LongAdder

  final case class Snap(calls: Long, failed: Long, rows: Long, waitNs: Long) {
    def -(o: Snap): Snap = Snap(calls - o.calls, failed - o.failed, rows - o.rows,
      waitNs - o.waitNs)
  }

  def snap(): Snap = Snap(calls.sum, failed.sum, rows.sum, waitNs.sum)
}

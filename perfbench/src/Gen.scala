package perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** One generator tick: the messages that become visible to the file
  * source together, and the time (ms after the run start) they are due.
  */
final case class Tick(index: Int, dueMs: Long, byTopic: Seq[(String, Seq[String])]) {
  def size: Int = byTopic.map(_._2.size).sum
}

/** Deterministic synthetic OpenBMP parsed-message traffic.
  *
  * Everything derives from `seed` and the `traffic` mix (a name in
  * [[Gen.Mixes]]): entity hashes, the message kinds and the key
  * choices, so one seed gives a byte-identical stream. Message
  * timestamps rise by 1 ms per message across the bootstrap and every
  * tick, which makes "last write wins" the same as "last in stream
  * order" for every keyed table.
  *
  * A peer that comes back up is followed, in the same tick, by a
  * re-announcement of every rib key it ever sent (with its current
  * withdrawn flag): the T9 stale-route purge then never decides the
  * final state, whichever micro-batch the up lands in, and the final
  * `ip_rib` equals a plain last-write-wins fold over the stream.
  */
final class Gen(val seed: Long, traffic: String = Gen.DefaultMix) {
  import Gen._

  private val kinds = Mixes.getOrElse(traffic, sys.error(s"unknown traffic mix $traffic"))
  private val upTo = kinds.scanLeft(0)(_ + _._2).tail
  private val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L)
  private var seqNo = 0L

  private def hex(kind: Int, a: Long, b: Long = 0L): String = {
    val x = mix(seed ^ mix(kind.toLong * 0x100000001B3L + a) ^ mix(b + 0x51ED27L))
    f"${x}%016x${mix(x)}%016x"
  }
  private def ts(): String = {
    val us = T0Us + seqNo * 1000L
    seqNo += 1
    TsFmt.format(Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))
  }

  // ---- entities -------------------------------------------------------

  val collector: String = hex(1, 0)
  private val nCoreRouters = 4
  val routers: IndexedSeq[String] = (0 to nCoreRouters).map(hex(2, _)) // last one: edge router
  private val edgeRouter = nCoreRouters
  val corePeers: IndexedSeq[String] = (0 until 64).map(hex(3, _))
  /** Flapping peers on the edge router; the last one is a loc-rib peer
    * with 0.0.0.0 address and bgp id (the T6 default-naming case).
    */
  val edgePeers: IndexedSeq[String] = (0 until 4).map(i => hex(3, 1000 + i))

  private val attrs = scala.collection.mutable.HashMap.empty[String, ArrayBuffer[String]]
  private var attrCounter = 0L
  /** rib keys per peer: key index → currently withdrawn */
  private val ribKeys = scala.collection.mutable.HashMap.empty[String, ArrayBuffer[Boolean]]

  private def peerAs(p: Int): Long = 64512L + p

  // ---- line builders (field order: graft.model.Messages schemas) -------

  private def collectorLine(action: String) =
    s"$collector\t$action\tadmin\t${routers.mkString(" ")}\t${routers.size}\t${ts()}"
  private def routerLine(r: Int, action: String) =
    s"${routers(r)}\trtr-$r\t10.255.0.${r + 1}\t${ts()}\t$action\t\t\t\t\tbench router\t10.255.0.${r + 1}\t$collector"
  private def peerLine(hash: String, router: Int, idx: Int, action: String, locRib: Boolean) = {
    val addr = if (locRib) "0.0.0.0" else s"192.0.${idx / 250}.${idx % 250 + 1}"
    val name = if (locRib) "" else s"peer-$idx"
    val up = action != "down"
    s"$hash\t${routers(router)}\t0:0\t1\t$addr\t$name\t$addr\t${peerAs(idx)}\t$action\t0\t${ts()}\t1\t" +
      (if (up) "10.255.0.1\t10.255.0.1\t179\t90\t65000\t33001\t90\tcap\tcap\t\t\t\t"
       else "\t\t\t\t\t\t\t\t\t2\t6\t4\tpeer reset") + s"\t${if (locRib) 1 else 0}\t0\ttbl"
  }
  private def attrLine(hash: String, peer: String, originAs: Long) =
    s"$hash\t$peer\tigp\t65001 $originAs\t$originAs\t10.1.${(originAs % 250).toInt}.1\t0\t100\t0\t\t" +
      s"65001:${originAs % 1000}\t\t\t\t\t2\t1\t${ts()}"
  /** The IPv4 /24 of rib key index `k` (the same for every peer). */
  def prefixOf(k: Int): String = s"${10 + (k >> 16)}.${(k >> 8) & 255}.${k & 255}.0"
  private def prefixLine(hash: String, peer: String, attr: String, k: Int, withdrawn: Boolean) =
    s"$hash\t$peer\t$attr\t1\t${65000 + k % 500}\t${prefixOf(k)}\t24\t" +
      s"${ts()}\t${if (withdrawn) 1 else 0}\t0\t\t1\t1"
  private def statLine(peer: String) = {
    val n = rng.nextInt(1000)
    s"$peer\t${ts()}\t$n\t${n / 2}\t${n / 3}\t0\t0\t0\t0\t${n * 10}\t${n * 9}"
  }
  private def l3vpnLine(peer: String, attr: String, k: Int, withdrawn: Boolean) =
    s"${hex(6, peer.hashCode.toLong, k)}\t$peer\t$attr\t1\t${65000 + k % 100}\t172.${16 + (k >> 8) % 16}.${k & 255}.0\t24\t" +
      s"${ts()}\t${if (withdrawn) 1 else 0}\t0\t\t1\t1\t65000:${k % 8}\trt:65000:${k % 8}"
  private def lsNodeLine(peer: String, n: Int, withdrawn: Boolean) =
    s"${hex(7, n)}\t$peer\t\t${rng.nextInt(100000)}\t65000\t0.0.0.0\t10.0.${n / 250}.${n % 250 + 1}\t0.0.0.0\tIS-IS_L2\t" +
      s"10.0.${n / 250}.${n % 250 + 1}\t49.0001\t\tnode-$n\t0\t\t${if (withdrawn) 1 else 0}\t${ts()}"
  private def lsLinkLine(peer: String, l: Int, withdrawn: Boolean) = {
    val a = l % LsNodes; val b = (l * 7 + 1) % LsNodes
    s"${hex(8, l)}\t$peer\t\t${rng.nextInt(100000)}\t${hex(7, a)}\t${hex(7, b)}\t10.9.${l / 250}.${l % 250}\t10.9.${l / 250}.${l % 250 + 1}\t0\t$l\t${l + 1}\t0\t" +
      s"1000000\t1000000\t\t10\t\t\t${10 + l % 90}\t\tlink-$l\t${if (withdrawn) 1 else 0}\t${ts()}\t\t\t\t\t65000\t65000\t\t"
  }
  private def lsPrefixLine(peer: String, q: Int, withdrawn: Boolean) =
    s"${hex(9, q)}\t$peer\t\t${rng.nextInt(100000)}\t${hex(7, q % LsNodes)}\t0\tIntra\t\t\t\t\t${10 + q % 50}\t" +
      s"10.8.${q & 255}.0\t24\t${if (withdrawn) 1 else 0}\t${ts()}"

  // ---- traffic pieces --------------------------------------------------

  private def newAttr(peer: String, out: Out): String = {
    attrCounter += 1
    val h = hex(4, attrCounter)
    attrs.getOrElseUpdate(peer, ArrayBuffer.empty) += h
    out("base_attribute") += attrLine(h, peer, 64512L + (attrCounter % 2000))
    h
  }
  private def someAttr(peer: String, out: Out): String =
    attrs.get(peer).filter(_.nonEmpty) match {
      case Some(a) => a(rng.nextInt(a.size))
      case None    => newAttr(peer, out)
    }
  private def ribKey(peer: String, k: Int) = hex(5, peer.hashCode.toLong, k)
  private def announce(peer: String, k: Int, withdrawn: Boolean, out: Out): Unit = {
    val keys = ribKeys.getOrElseUpdate(peer, ArrayBuffer.empty)
    if (k == keys.size) keys += withdrawn else keys(k) = withdrawn
    out("unicast_prefix") += prefixLine(ribKey(peer, k), peer, someAttr(peer, out), k, withdrawn)
  }
  private def newKey(peer: String, out: Out): Unit =
    announce(peer, ribKeys.get(peer).map(_.size).getOrElse(0), withdrawn = false, out)
  /** An update to an existing key: re-announce (new attr) or flip. */
  private def churnKey(peer: String, out: Out): Unit =
    ribKeys.get(peer).filter(_.nonEmpty) match {
      case Some(keys) =>
        val k = rng.nextInt(keys.size)
        announce(peer, k, withdrawn = !keys(k) && rng.nextInt(4) == 0, out)
      case None => newKey(peer, out)
    }
  private def corePeer(): String = corePeers(rng.nextInt(corePeers.size))

  private final class Out {
    val m = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[String]]
    def apply(topic: String): ArrayBuffer[String] = m.getOrElseUpdate(topic, ArrayBuffer.empty)
    def result: Seq[(String, Seq[String])] =
      GraftTopics.flatMap(t => m.get(t).filter(_.nonEmpty).map(t -> _.toSeq))
  }

  /** Inventory bootstrap (collector, routers and peers up, one attr per
    * peer) and the preloaded rib, l3vpn and ls state.
    */
  def bootstrap(): Seq[(String, Seq[String])] = {
    val out = new Out
    out("collector") += collectorLine("started")
    routers.indices.foreach(r => out("router") += routerLine(r, "init"))
    corePeers.indices.foreach(i => out("peer") += peerLine(corePeers(i), i % nCoreRouters, i, "up", locRib = false))
    edgePeers.indices.foreach(i =>
      out("peer") += peerLine(edgePeers(i), edgeRouter, 100 + i, "up", locRib = i == edgePeers.size - 1))
    (corePeers ++ edgePeers).foreach(p => newAttr(p, out))
    for (_ <- 0 until PreloadPerPeer; p <- corePeers) newKey(p, out)
    for (_ <- 0 until EdgeKeys; p <- edgePeers) newKey(p, out)
    for (k <- 0 until L3vpnKeys) {
      val p = corePeers(k % 8)
      out("l3vpn") += l3vpnLine(p, someAttr(p, out), k, withdrawn = false)
    }
    for (n <- 0 until LsNodes) out("ls_node") += lsNodeLine(corePeers(0), n, withdrawn = false)
    for (l <- 0 until LsLinks) out("ls_link") += lsLinkLine(corePeers(0), l, withdrawn = false)
    for (q <- 0 until LsPrefixes) out("ls_prefix") += lsPrefixLine(corePeers(0), q, withdrawn = false)
    out.result
  }

  /** The next tick: scheduled control-plane events (peer flaps, router
    * re-init, collector heartbeats), then steady traffic drawn from the
    * mix; ticks must be asked for in order 0, 1, 2, …
    */
  def tick(i: Int): Tick = {
    val out = new Out
    val edge = (i / FlapEvery) % edgePeers.size
    if (i % FlapEvery == 0)
      out("peer") += peerLine(edgePeers(edge), edgeRouter, 100 + edge, "down", edge == edgePeers.size - 1)
    if (i % FlapEvery == FlapEvery / 2) {
      out("peer") += peerLine(edgePeers(edge), edgeRouter, 100 + edge, "up", edge == edgePeers.size - 1)
      val keys = ribKeys.getOrElse(edgePeers(edge), ArrayBuffer.empty)
      keys.indices.foreach(k => announce(edgePeers(edge), k, keys(k), out))
    }
    if (i % RouterEvery == RouterEvery - 1) out("router") += routerLine(edgeRouter, "init")
    if (i % HeartbeatEvery == 0) out("collector") += collectorLine("heartbeat")
    var n = out.result.map(_._2.size).sum
    while (n < LiveChurnPerTick) {
      val r = rng.nextInt(upTo.last)
      kinds(upTo.indexWhere(r < _))._1 match {
        case "churn"          => churnKey(corePeer(), out)
        case "new_key"        => newKey(corePeer(), out)
        case "base_attribute" => newAttr(corePeer(), out)
        case "bmp_stat"       => out("bmp_stat") += statLine(corePeer())
        case "l3vpn" =>
          val p = corePeers(rng.nextInt(8))
          out("l3vpn") += l3vpnLine(p, someAttr(p, out), rng.nextInt(L3vpnKeys), rng.nextInt(5) == 0)
        case "ls_node" => out("ls_node") += lsNodeLine(corePeers(0), rng.nextInt(LsNodes), rng.nextInt(6) == 0)
        case "ls_link" => out("ls_link") += lsLinkLine(corePeers(0), rng.nextInt(LsLinks), rng.nextInt(6) == 0)
        case "ls_prefix" =>
          out("ls_prefix") += lsPrefixLine(corePeers(0), rng.nextInt(LsPrefixes), rng.nextInt(6) == 0)
      }
      n += 1
    }
    Tick(i, i.toLong * TickMs, out.result)
  }
}

object Gen {
  val LiveChurn = "live-churn"

  /** Topic suffixes in `graft.streaming.GraftApp.Topics` order. */
  val GraftTopics: Seq[String] = Seq(
    "collector", "router", "peer", "base_attribute", "unicast_prefix",
    "l3vpn", "bmp_stat", "ls_node", "ls_link", "ls_prefix")

  /** The steady traffic of a tick as weights over message kinds: an
    * update to an existing rib key (`churn`), a new rib key, a new base
    * attribute, a stats report, and updates to l3vpn and link-state
    * entries. The weights are an assumption: the repository holds no
    * recorded OpenBMP feed or published per-topic rate to base them on.
    * `all-topics` gives every topic traffic; `prefix-only` sets l3vpn
    * and ls_* to 0 and keeps the other proportions, to show what the
    * assumption decides (README, "Traffic mix").
    */
  val Mixes: Map[String, Seq[(String, Int)]] = Map(
    "all-topics" -> Seq("churn" -> 55, "new_key" -> 7, "base_attribute" -> 8, "bmp_stat" -> 4,
      "l3vpn" -> 9, "ls_node" -> 6, "ls_link" -> 6, "ls_prefix" -> 5),
    "prefix-only" -> Seq("churn" -> 55, "new_key" -> 7, "base_attribute" -> 8, "bmp_stat" -> 4))
  val DefaultMix = "all-topics"

  /** One tick every TickMs carrying LiveChurnPerTick messages (500 msg/s). */
  val TickMs = 100L
  val LiveChurnPerTick = 50
  val PreloadPerPeer = 300
  val EdgeKeys = 40
  val L3vpnKeys = 256
  val LsNodes = 64
  val LsLinks = 128
  val LsPrefixes = 128
  val FlapEvery = 30
  val RouterEvery = 90
  val HeartbeatEvery = 10

  val T0Us: Long = 1704067200000000L // 2024-01-01T00:00:00Z
  val TsFmt: DateTimeFormatter =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(ZoneOffset.UTC)

  /** splitmix64 finalizer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

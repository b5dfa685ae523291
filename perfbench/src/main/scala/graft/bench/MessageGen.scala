package graft.bench

import java.util.SplittableRandom

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

/** One Kafka-shaped message. `offset` doubles as the sequence number the
  * generator writes into the message's `values` (as `seq`), so a sink's
  * final table shows which version of each key won. */
final case class GenMessage(key: String, value: Array[Byte], offset: Long)

/** A generated corpus plus what it plants.
  *
  * @param expected natural key (rendered by [[KeyText]]) -> highest offset
  *   of a valid message carrying that key: the table a correct last-wins
  *   sink ends with.
  * @param decodeRejects messages whose bytes the decoder must reject
  *   (dead letters).
  * @param mapDrops messages that decode but that the mapping must drop. */
final case class Corpus(messages: IndexedSeq[GenMessage], expected: Map[String, Long],
    updates: Int, decodeRejects: Int, mapDrops: Int) {
  def distinctKeys: Int = expected.size
  def bytes: Long = messages.iterator.map(_.value.length.toLong).sum
  def summary: Map[String, Any] = Map("messages" -> messages.size,
    "distinct_keys" -> distinctKeys, "updates" -> updates,
    "decode_rejects" -> decodeRejects, "map_drops" -> mapDrops, "bytes" -> bytes)
}

/** Renders a natural key as text, the same way from generated fields and
  * from the parameters a JDBC sink binds: timestamps as epoch micros, null
  * as `null`, everything else with `toString`. */
object KeyText {
  def render(parts: Seq[Any]): String = parts.map {
    case null => "null"
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case other => other.toString
  }.mkString("|")
}

/** Seeded generator of sink-path messages in two wire shapes:
  *
  *  - GenericFloat JSON: the `schema.avsc` fields (uid, gid, time, lat, lon,
  *    z, values map, meta).
  *  - NwicFloatReports msgpack: iridium headers with degrees+minutes
  *    positions and nested `values` (the health-and-status shape), packed
  *    with the smallest msgpack formats, as `msgpack.packb` does.
  *
  * Every message carries its sequence number in `values.seq`. The same seed
  * gives the same corpus byte for byte. Natural keys for both mappings are
  * (uid, gid, time, lat, lon, z).
  */
object MessageGen {
  sealed trait Updates
  /** Each message is, with probability `frac`, a re-send of a valid key
    * first sent at least `minLag` messages earlier (live updates). */
  final case class Scattered(frac: Double, minLag: Int) extends Updates
  /** The last `frac` of the corpus replays a contiguous range of earlier
    * keys with updated values (a replayed range after downtime). */
  final case class ReplayRange(frac: Double) extends Updates

  private val mapper = new ObjectMapper()

  /** A key's fixed fields plus a builder for a message version of it. */
  private final case class Base(keyText: String, kafkaKey: String,
      build: (Long, SplittableRandom) => ObjectNode)

  private final case class Shape(base: (Int, SplittableRandom) => Base,
      encode: ObjectNode => Array[Byte], garble: Array[Byte] => Array[Byte],
      dropForMap: ObjectNode => Unit)

  def genericFloatJson(seed: Long, n: Int, updates: Updates, rejectFrac: Double): Corpus =
    generate(seed, n, updates, rejectFrac, Shape(genericFloatBase,
      mapper.writeValueAsBytes(_),
      b => java.util.Arrays.copyOf(b, b.length / 2), // truncated JSON text
      _.remove("values")))

  def nwicFloatReportsMsgpack(seed: Long, n: Int, updates: Updates, rejectFrac: Double): Corpus =
    generate(seed, n, updates, rejectFrac, Shape(nwicBase,
      Msgpack.encode,
      b => 0xc1.toByte +: b, // 0xc1 is the one type byte msgpack never uses
      m => m.get("headers").asInstanceOf[ObjectNode].remove("iridium_ts")))

  private def generate(seed: Long, n: Int, updates: Updates, rejectFrac: Double,
      shape: Shape): Corpus = {
    val rng = new SplittableRandom(seed)
    val valid = scala.collection.mutable.ArrayBuffer.empty[(Base, Int)] // (key, first index)
    val expected = scala.collection.mutable.HashMap.empty[String, Long]
    val out = IndexedSeq.newBuilder[GenMessage]
    var nUpdates, nRejects, nDrops = 0
    val replayFrom = updates match {
      case ReplayRange(frac) => n - (n * frac).toInt
      case _ => n
    }
    var replayStart = -1
    for (i <- 0 until n) {
      val seq = i.toLong
      val update: Option[Base] = updates match {
        case Scattered(frac, lag) =>
          val eligible = valid.lastIndexWhere(_._2 <= i - lag) + 1
          if (eligible > 0 && rng.nextDouble() < frac) Some(valid(rng.nextInt(eligible))._1)
          else None
        case ReplayRange(_) if i >= replayFrom =>
          if (replayStart < 0)
            replayStart = rng.nextInt(math.max(1, valid.size - (n - replayFrom)))
          valid.lift(replayStart + i - replayFrom).map(_._1)
        case _ => None
      }
      update match {
        case Some(b) =>
          out += GenMessage(b.kafkaKey, shape.encode(b.build(seq, rng)), seq)
          expected(b.keyText) = seq
          nUpdates += 1
        case None =>
          val b = shape.base(i, rng)
          val node = b.build(seq, rng)
          val r = rng.nextDouble()
          if (r < rejectFrac / 2) {
            out += GenMessage(b.kafkaKey, shape.garble(shape.encode(node)), seq)
            nRejects += 1
          } else if (r < rejectFrac) {
            shape.dropForMap(node)
            out += GenMessage(b.kafkaKey, shape.encode(node), seq)
            nDrops += 1
          } else {
            out += GenMessage(b.kafkaKey, shape.encode(node), seq)
            expected(b.keyText) = seq
            valid += (b -> i)
          }
      }
    }
    Corpus(out.result(), expected.toMap, nUpdates, nRejects, nDrops)
  }

  private def round(x: Double, digits: Int): Double = {
    val s = math.pow(10, digits)
    math.round(x * s) / s
  }
  /** A coordinate that is never exactly 0 (0.0 is falsy in the mappings). */
  private def coord(rng: SplittableRandom, span: Double): Double = {
    val v = round(rng.nextDouble() * 2 * span - span, 4)
    if (v == 0.0) 0.0001 else v
  }

  private val Epoch2024Ms = 1704067200000L

  private def genericFloatBase(i: Int, rng: SplittableRandom): Base = {
    val fid = rng.nextInt(64)
    val uid = s"float-$fid"
    val gid = if (rng.nextInt(4) == 0) s"glider-${fid % 8}" else null
    val timeMs = Epoch2024Ms + i * 1000L + rng.nextInt(1000)
    val lat = coord(rng, 60)
    val lon = coord(rng, 180)
    val z: java.lang.Double = if (rng.nextBoolean()) null else round(rng.nextDouble() * 500, 2)
    Base(KeyText.render(Seq(uid, gid, timeMs * 1000L, lat, lon, z)), uid, (seq, r) => {
      val m = mapper.createObjectNode()
      m.put("uid", uid)
      if (gid == null) m.putNull("gid") else m.put("gid", gid)
      m.put("time", java.time.Instant.ofEpochMilli(timeMs).toString)
      m.put("lat", lat)
      m.put("lon", lon)
      if (z == null) m.putNull("z") else m.put("z", z.doubleValue)
      val meta = m.putObject("meta")
      meta.put("source", "perfbench")
      meta.put("platform", "float")
      val v = m.putObject("values")
      v.put("seq", seq)
      v.put("float_id", fid)
      v.put("temperature", round(r.nextDouble() * 30, 3))
      v.put("salinity", round(30 + r.nextDouble() * 8, 3))
      v.put("pressure", round(r.nextDouble() * 2000, 2))
      m
    })
  }

  private def nwicBase(i: Int, rng: SplittableRandom): Base = {
    val imei = f"3002340${rng.nextInt(200)}%08d"
    val iridiumTs = Epoch2024Ms / 1000 + i * 60L + rng.nextInt(60)
    val statusTs = iridiumTs - rng.nextInt(300)
    val latDeg = rng.nextInt(120) - 60
    val latMin = round(rng.nextDouble() * 60, 3)
    val lonDeg = rng.nextInt(360) - 180
    val lonMin = round(rng.nextDouble() * 60, 3)
    val gps = rng.nextBoolean() // values carry a GPS fix; else deg+min fallback
    val (lat, lon) =
      if (gps) (coord(rng, 60), coord(rng, 180))
      else (latDeg + latMin / 60.0, lonDeg + lonMin / 60.0)
    Base(KeyText.render(Seq(imei, null, statusTs * 1000000L, lat, lon, null)), imei, (seq, r) => {
      val m = mapper.createObjectNode()
      m.put("cdr_reference", 1000000L + seq)
      val h = m.putObject("headers")
      h.put("imei", imei)
      h.put("iridium_ts", iridiumTs)
      h.put("sbd_session_status", 0)
      h.put("mo_msn", (seq % 65536).toInt)
      h.put("mt_msn", 0)
      val loc = h.putObject("location")
      loc.put("cep_radius", 3 + r.nextInt(10))
      val la = loc.putObject("latitude"); la.put("degrees", latDeg); la.put("minutes", latMin)
      val lo = loc.putObject("longitude"); lo.put("degrees", lonDeg); lo.put("minutes", lonMin)
      val v = m.putObject("values")
      v.put("seq", seq)
      v.put("status_ts", statusTs)
      if (gps) { v.put("latitude", lat); v.put("longitude", lon) }
      v.put("battery_voltage", round(11 + r.nextDouble() * 3, 3))
      v.put("sea_surface_temperature", round(r.nextDouble() * 30, 3))
      val misc = v.putObject("misc")
      misc.put("speed", round(r.nextDouble() * 2, 3))
      misc.put("test_num", r.nextInt(100))
      m.put("mfr", "nwic")
      m
    })
  }

  /** Minimal msgpack encoder written to the public spec, smallest formats
    * first. Independent of the program's decoder on purpose. */
  object Msgpack {
    def encode(n: JsonNode): Array[Byte] = {
      val bo = new java.io.ByteArrayOutputStream(256)
      write(n, new java.io.DataOutputStream(bo))
      bo.toByteArray
    }

    private def header(o: java.io.DataOutputStream, n: Int, fix: Int, fixMax: Int,
        b16: Int, b32: Int): Unit =
      if (n <= fixMax) o.write(fix | n)
      else if (n <= 0xffff) { o.write(b16); o.writeShort(n) }
      else { o.write(b32); o.writeInt(n) }

    private def write(n: JsonNode, o: java.io.DataOutputStream): Unit =
      if (n.isNull) o.write(0xc0)
      else if (n.isBoolean) o.write(if (n.booleanValue) 0xc3 else 0xc2)
      else if (n.isIntegralNumber) {
        val l = n.longValue
        if (l >= 0 && l <= 0x7f) o.write(l.toInt)
        else if (l < 0 && l >= -32) o.write(l.toInt & 0xff)
        else if (l >= Int.MinValue && l <= Int.MaxValue) { o.write(0xd2); o.writeInt(l.toInt) }
        else { o.write(0xd3); o.writeLong(l) }
      } else if (n.isNumber) { o.write(0xcb); o.writeDouble(n.doubleValue) }
      else if (n.isTextual) {
        val b = n.textValue.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if (b.length <= 31) o.write(0xa0 | b.length)
        else if (b.length <= 0xff) { o.write(0xd9); o.write(b.length) }
        else if (b.length <= 0xffff) { o.write(0xda); o.writeShort(b.length) }
        else { o.write(0xdb); o.writeInt(b.length) }
        o.write(b)
      } else n match {
        case a: ArrayNode =>
          header(o, a.size, 0x90, 15, 0xdc, 0xdd)
          a.elements.forEachRemaining(write(_, o))
        case m: ObjectNode =>
          header(o, m.size, 0x80, 15, 0xde, 0xdf)
          m.fields.forEachRemaining { e =>
            write(com.fasterxml.jackson.databind.node.TextNode.valueOf(e.getKey), o)
            write(e.getValue, o)
          }
        case other => throw new IllegalArgumentException(s"cannot pack $other")
      }
  }
}

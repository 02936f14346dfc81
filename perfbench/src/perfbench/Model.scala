package perfbench

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, LocalDateTime, OffsetDateTime, ZoneOffset}
import java.util.Locale

import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.{DecoderFactory, EncoderFactory}

/** The generator's model of every input. Record `i` of seed `s` is a pure
  * function of `(s, i)`, so inputs are rebuilt from the seed alone and the
  * expected output of each record is computed here, in plain Scala and
  * `java.time`, without any of the program's code. Frames are written
  * with `org.apache.avro` directly. */
object Rand {
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Uniform 64 bits for lane `lane` of record `i` under `seed`. */
  def bits(seed: Long, i: Long, lane: Int): Long =
    mix(mix(seed * 0x632BE59BD9B4E019L + i) ^ lane.toLong * 0x9E3779B97F4A7C15L)
  def below(seed: Long, i: Long, lane: Int, n: Int): Int =
    java.lang.Long.remainderUnsigned(bits(seed, i, lane), n.toLong).toInt
}

/** Order-independent multiset digest: count plus two sums of 64-bit
  * hashes of each record's canonical line. Equal digests mean equal
  * multisets up to a hash collision; a dropped, added, duplicated or
  * altered record changes it. `bad` counts frames that failed to decode. */
final case class Digest(count: Long, sumA: Long, sumB: Long, bad: Long) {
  def +(o: Digest): Digest = Digest(count + o.count, sumA + o.sumA, sumB + o.sumB, bad + o.bad)
}

object Digest {
  val empty: Digest = Digest(0, 0, 0, 0)
  def of(lines: Iterator[Option[String]]): Digest = lines.foldLeft(empty) {
    case (d, Some(l)) =>
      Digest(d.count + 1, d.sumA + hash(l, 0x2f1b), d.sumB + hash(l, 0x71c3), d.bad)
    case (d, None) => d.copy(bad = d.bad + 1)
  }
  private def hash(s: String, seed: Int): Long =
    (MurmurHash3.stringHash(s, seed).toLong << 32) ^
      (MurmurHash3.stringHash(s, seed * 31 + 7).toLong & 0xffffffffL)
}

object Frames {
  val Magic: Byte = 0
  def longBytes(v: Long): Array[Byte] = ByteBuffer.allocate(8).putLong(v).array()
  def bytesLong(b: Array[Byte]): Option[Long] =
    if (b != null && b.length == 8) Some(ByteBuffer.wrap(b).getLong) else None

  /** Confluent wire frame: magic byte, 4-byte big-endian schema id, body. */
  def confluent(id: Int, record: GenericRecord): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(Magic.toInt)
    out.write(ByteBuffer.allocate(4).putInt(id).array())
    val enc = EncoderFactory.get().binaryEncoder(out, null)
    new GenericDatumWriter[GenericRecord](record.getSchema).write(record, enc)
    enc.flush()
    out.toByteArray
  }

  /** Body of a frame carrying schema `id`, read with `schema`; None when
    * the header is wrong or the body does not decode to its end. */
  def readConfluent(frame: Array[Byte], id: Int, schema: Schema): Option[GenericRecord] =
    if (frame == null || frame.length < 5 || frame(0) != Magic ||
        ByteBuffer.wrap(frame, 1, 4).getInt != id) None
    else scala.util.Try {
      val dec = DecoderFactory.get().binaryDecoder(frame, 5, frame.length - 5, null)
      val rec = new GenericDatumReader[GenericRecord](schema).read(null, dec)
      require(dec.isEnd, "trailing bytes after the Avro body")
      rec
    }.toOption

  def parse(json: String): Schema = new Schema.Parser().parse(json)
}

/** Input model of `avro_restructure` and `stream_trickle`. */
object Events {
  val InId = 7
  val ForeignId = 8
  val OutId = 9
  /** One frame in this many carries the foreign schema id. */
  val ForeignEvery = 40

  private val Names = Vector("ada", "bo", "cy", "dee", "eli", "fay", "gus", "hal",
    "ivy", "jo", "kai", "lu", "max", "ned", "oz", "pia")
  private val Countries = Vector("NL", "DE", "FR", "JP", "US", "BR", "IN", "ZA",
    "SE", "ES", "KR", "MX")
  private val Tags = Vector("new", "promo", "vip", "mobile", "web", "retry", "bulk",
    "gift", "eu", "apac", "beta", "ads", "organic", "ref", "b2b", "b2c", "sale",
    "trial", "loyal", "churn")

  final case class Event(key: Long, id: Long, kind: String, name: String,
      country: String, age: Int, tags: Vector[String], amountCents: Option[Long],
      qty: Int, note: Option[String], ts: Long, foreign: Boolean)

  def event(seed: Long, i: Long): Event = {
    def b(lane: Int, n: Int) = Rand.below(seed, i, lane, n)
    val k = b(1, 100)
    val kind = if (k < 10) "REFUND" else if (k < 50) "CLICK" else if (k < 80) "VIEW" else "PURCHASE"
    Event(
      key = Rand.bits(seed, i, 0),
      id = i,
      kind = kind,
      name = Names(b(2, Names.size)) + b(3, 1000),
      country = Countries(b(4, Countries.size)),
      age = 18 + b(5, 60),
      tags = Vector.tabulate(b(6, 4))(t => Tags(b(10 + t, Tags.size))),
      amountCents = if (b(7, 5) == 0) None else Some(b(8, 100000).toLong),
      qty = 1 + b(9, 9),
      note = if (b(14, 3) == 0) Some("note-" + b(15, 10000)) else None,
      ts = 1600000000000L + b(16, 1000000000),
      foreign = Math.floorMod(i + seed, ForeignEvery.toLong) == 0)
  }

  private def action(kind: String): String = kind match {
    case "CLICK" => "TAP"
    case "VIEW" => "IMPRESSION"
    case _ => "ORDER"
  }

  private def opt(v: Option[Any]): String = v.map(_.toString).getOrElse("~")

  /** Canonical line of the expected output record; None when dropped. */
  def expected(e: Event): Option[String] =
    if (e.foreign || e.kind == "REFUND") None
    else Some(Seq(e.key, e.id, action(e.kind), e.name.toUpperCase(Locale.ROOT), e.country,
      e.tags.size, opt(e.tags.headOption), opt(e.amountCents.map(_ * e.qty)),
      e.note.isDefined).mkString("|"))

  /** Canonical line of one output frame, read back with Avro's own reader. */
  def actual(key: Array[Byte], value: Array[Byte], out: Schema): Option[String] =
    for {
      k <- Frames.bytesLong(key)
      r <- Frames.readConfluent(value, OutId, out)
    } yield Seq(k, r.get("id"), r.get("action"), r.get("user"), r.get("country"),
      r.get("tag_count"), opt(Option(r.get("first_tag"))),
      opt(Option(r.get("total_cents"))), r.get("has_note")).mkString("|")

  /** Kafka-shaped frame of record `i`: 8-byte key, Confluent-framed value. */
  final class Writer(inJson: String, legacyJson: String) {
    private val in = Frames.parse(inJson)
    private val legacy = Frames.parse(legacyJson)
    private val userSchema = in.getField("user").schema()
    private val kindSchema = in.getField("kind").schema()
    private val tagsSchema = in.getField("tags").schema()

    def frame(seed: Long, i: Long): (Array[Byte], Array[Byte]) = {
      val e = event(seed, i)
      val value =
        if (e.foreign) {
          val r = new GenericData.Record(legacy)
          r.put("id", e.id)
          r.put("payload", s"legacy-${e.kind}-${e.name}")
          Frames.confluent(ForeignId, r)
        } else {
          val u = new GenericData.Record(userSchema)
          u.put("name", e.name)
          u.put("country", e.country)
          u.put("age", e.age)
          val r = new GenericData.Record(in)
          r.put("id", e.id)
          r.put("kind", new GenericData.EnumSymbol(kindSchema, e.kind))
          r.put("user", u)
          r.put("tags", new GenericData.Array[CharSequence](tagsSchema,
            e.tags.map(t => t: CharSequence).asJava))
          r.put("amount_cents", e.amountCents.map(Long.box).orNull)
          r.put("qty", e.qty)
          r.put("note", e.note.orNull)
          r.put("ts", e.ts)
          Frames.confluent(InId, r)
        }
      (Frames.longBytes(e.key), value)
    }
  }
}

/** Input model of `time_strings`: ISO-8601 keys with mixed UTC offsets and
  * a fixed share of non-numeric values. */
object Stamps {
  /** One value in this many is not a number. */
  val WordEvery = 8
  private val Offsets = Vector("Z", "+00:00", "+01:00", "-05:00", "+05:30",
    "-03:30", "+09:00", "+12:45")
  private val Words = Vector("three", "n/a", "", "abc", "NaN", "-", "12ab", "0x1F")

  def record(seed: Long, i: Long): (String, String) = {
    def b(lane: Int, n: Int) = Rand.below(seed, i, lane, n)
    val offset = Offsets(b(1, Offsets.size))
    val digits = b(2, 4)
    val unit = math.pow(10, 3 - digits).toLong
    val millis = 1400000000000L + (Rand.bits(seed, i, 3) >>> 1) % 320000000000L
    val trunc = millis - Math.floorMod(millis, unit)
    val local = LocalDateTime.ofInstant(Instant.ofEpochMilli(trunc), ZoneOffset.of(offset))
    val sb = new java.lang.StringBuilder(32)
    def pad(v: Long, width: Int): Unit = {
      val d = v.toString
      for (_ <- d.length until width) sb.append('0')
      sb.append(d)
    }
    pad(local.getYear, 4); sb.append('-'); pad(local.getMonthValue, 2); sb.append('-')
    pad(local.getDayOfMonth, 2); sb.append('T'); pad(local.getHour, 2); sb.append(':')
    pad(local.getMinute, 2); sb.append(':'); pad(local.getSecond, 2)
    if (digits > 0) { sb.append('.'); pad(Math.floorMod(trunc, 1000L) / unit, digits) }
    val key = sb.append(offset).toString
    val value =
      if (b(4, WordEvery) == 0) Words(b(5, Words.size))
      else (Rand.below(seed, i, 6, 2000000000) - 1000000000L).toString
    (key, value)
  }

  /** Epoch millis from `java.time`, the value as a long; None when the
    * value is not a number and the record is dropped. */
  def expected(key: String, value: String): Option[String] =
    scala.util.Try(java.lang.Long.parseLong(value)).toOption.map { v =>
      s"${OffsetDateTime.parse(key).toInstant.toEpochMilli}|$v"
    }

  def frame(seed: Long, i: Long): (Array[Byte], Array[Byte]) = {
    val (k, v) = record(seed, i)
    (k.getBytes(UTF_8), v.getBytes(UTF_8))
  }

  def actual(key: Array[Byte], value: Array[Byte]): Option[String] =
    for (k <- Frames.bytesLong(key); v <- Frames.bytesLong(value)) yield s"$k|$v"
}

/** The decode-rejection probe: `examples/demo` over eight frames, one of
  * them carrying a foreign schema id. The program's drop-record rule says
  * that frame is dropped and the other seven come out. */
object Probe {
  val Records = 8
  val ForeignAt = 5

  private def name(i: Int) = Seq("roEl", "ADA", "Bo", "cY", "dEE", "eLi", "Fay", "gus")(i)

  def frame(inJson: String, legacyJson: String, i: Int): (Array[Byte], Array[Byte]) = {
    val value =
      if (i == ForeignAt) {
        val r = new GenericData.Record(Frames.parse(legacyJson))
        r.put("id", i.toLong)
        r.put("payload", "foreign")
        Frames.confluent(Events.ForeignId, r)
      } else {
        val in = Frames.parse(inJson)
        val p = new GenericData.Record(in.getField("person").schema())
        p.put("name", name(i))
        p.put("species", "human")
        val r = new GenericData.Record(in)
        r.put("redundantField", i)
        r.put("notValid", i % 2 == 0)
        r.put("person", p)
        r.put("fingers_lh", i)
        r.put("fingers_rh", 2 * i)
        Frames.confluent(Events.InId, r)
      }
    (Frames.longBytes(i.toLong), value)
  }

  def expected: Seq[String] = (0 until Records).filter(_ != ForeignAt).map { i =>
    s"$i|${i % 2 != 0}|${name(i).toLowerCase(Locale.ROOT)}|${3L * i}"
  }

  def actual(key: Array[Byte], value: Array[Byte], out: Schema): Option[String] =
    for {
      k <- Frames.bytesLong(key)
      r <- Frames.readConfluent(value, Events.OutId, out)
    } yield s"$k|${r.get("valid")}|${r.get("name")}|${r.get("fingers")}"
}

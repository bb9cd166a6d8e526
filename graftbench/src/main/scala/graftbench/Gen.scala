package graftbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

/** Seeded generator of CloudWatch-Logs subscription records carrying
  * VPC flow-log v2 lines, as a Kinesis stream would deliver them: one
  * gzipped JSON payload per record. Pure JDK (gzip, hand-written JSON
  * text): it shares no code with the library it feeds, so a decoding
  * bug cannot cancel out between generator and reader.
  *
  * Besides DATA_MESSAGE records it plants, at fixed shares:
  * CONTROL_MESSAGE records (must be filtered out), truncated-gzip
  * records (dropped by the permissive reader) and gzip-of-non-JSON
  * records (decode to a null payload and are filtered out). A share of
  * the DATA lines are NODATA lines whose flow fields are `-`.
  *
  * Output is grouped in files: the batch workload writes them all
  * before it starts, the stream workload releases one per tick.
  */
object Gen {

  /** What a run varies: the seed, the input's size, and whether
    * truncated-gzip records are planted (the stream's strict parse
    * would fail on them).
    */
  final case class Config(seed: Long, files: Int, recordsPerFile: Int, truncated: Boolean = true)

  // Events per DATA record, uniform in [MinEvents, MaxEvents] (mean
  // 28): the mean that gives this line format the gzipped and JSON
  // bytes per event of the probe in graftbench/README.md (137 MB and
  // 922 MB for 1.96M events, about 70 and 470 bytes). The spread
  // around the mean is not measured.
  private val MinEvents = 14
  private val MaxEvents = 42
  // The planted shares are there to exercise the reader's filters and
  // the output checks, not to model real traffic: CONTROL records are
  // rare health checks in a real subscription, and truncated or
  // non-JSON records appear only on corrupt input. The NODATA share
  // is not measured either.
  private val ControlShare = 0.02
  private val TruncatedShare = 0.01
  private val NonJsonShare = 0.01
  private val NodataShare = 0.03
  // 23:30 UTC plus three hours: one Kinesis retention window, most
  // events on the second of two dates
  private val StartMs = 1773531000000L
  private val SpanMs = 3L * 3600 * 1000

  /** Expected content of one group of (action, protocol): the rows,
    * and the sums of the non-null bytes and packets.
    */
  final case class Agg(rows: Long, bytes: Long, packets: Long) {
    def +(o: Agg): Agg = Agg(rows + o.rows, bytes + o.bytes, packets + o.packets)
  }

  /** What a correct ingest of some files must produce. `seqSum` is the
    * sum of the events' sequence numbers (the last 14 digits of each
    * log id, unique across files), so that with the event count it
    * catches a lost or duplicated event.
    */
  final case class Totals(events: Long, seqSum: Long, groups: Map[(String, Integer), Agg]) {
    def +(o: Totals): Totals = Totals(events + o.events, seqSum + o.seqSum,
      (groups.keySet ++ o.groups.keySet).iterator.map { k =>
        k -> (groups.getOrElse(k, Agg(0, 0, 0)) + o.groups.getOrElse(k, Agg(0, 0, 0)))
      }.toMap)
  }
  object Totals { val empty: Totals = Totals(0, 0, Map.empty) }

  final case class File(records: IndexedSeq[Array[Byte]], expected: Totals)

  final case class Output(
      files: IndexedSeq[File], records: Int, dataRecords: Int, controlRecords: Int,
      truncatedRecords: Int, nonJsonRecords: Int, eventsIn: Long,
      gzBytes: Long, jsonBytes: Long, pDates: Set[String], digest: String) {
    def expected: Totals = files.map(_.expected).foldLeft(Totals.empty)(_ + _)
  }

  private val Accounts = Array("123456789012", "210987654321", "555566667777")
  private val DstPorts = Array(443, 80, 22, 53, 3306, 8080, 5432, 6379)

  private def gzip(b: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(b.length / 4 + 64)
    val gz = new GZIPOutputStream(bos)
    gz.write(b)
    gz.close()
    bos.toByteArray
  }

  private def pDate(ms: Long): String =
    java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC).toLocalDate.toString

  /** Per-file output before the digest: records, totals and counters. */
  private final case class Part(
      records: IndexedSeq[Array[Byte]], expected: Totals, kinds: String,
      eventsIn: Long, gzBytes: Long, jsonBytes: Long, dates: Set[String])

  /** Files are generated in parallel, each from its own seeded stream,
    * so the output depends only on the config.
    */
  def generate(c: Config): Output = {
    val parts = java.util.stream.IntStream.range(0, c.files).parallel()
      .mapToObj[Part](f => file(c, f)).toArray.map(_.asInstanceOf[Part]).toIndexedSeq
    val sha = MessageDigest.getInstance("SHA-256")
    for (p <- parts; rec <- p.records) {
      sha.update(java.nio.ByteBuffer.allocate(4).putInt(rec.length).array())
      sha.update(rec)
    }
    val kinds = parts.map(_.kinds).mkString
    Output(parts.map(p => File(p.records, p.expected)), kinds.length, kinds.count(_ == 'D'),
      kinds.count(_ == 'C'), kinds.count(_ == 'T'), kinds.count(_ == 'N'),
      parts.map(_.eventsIn).sum, parts.map(_.gzBytes).sum, parts.map(_.jsonBytes).sum,
      parts.flatMap(_.dates).toSet, sha.digest().map(b => f"${b & 0xff}%02x").mkString)
  }

  private def file(c: Config, f: Int): Part = {
    val rnd = new SplittableRandom(c.seed * 1000003L + f)
    val n = c.recordsPerFile
    // exact shares per file, placed by a seeded shuffle
    val kinds = Array.fill(n)('D')
    var k = 0
    def plant(share: Double, kind: Char): Unit = {
      val m = math.round(share * n).toInt
      var i = 0
      while (i < m && k < n) { kinds(k) = kind; k += 1; i += 1 }
    }
    plant(ControlShare, 'C'); plant(if (c.truncated) TruncatedShare else 0.0, 'T'); plant(NonJsonShare, 'N')
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
      i -= 1
    }
    // sequence numbers are unique across files: file f owns [f * 1e8, (f + 1) * 1e8)
    var seq = f * 100000000L
    var eventsIn = 0L
    var gzBytes = 0L
    var jsonBytes = 0L
    val dates = scala.collection.mutable.Set.empty[String]
    val groups = scala.collection.mutable.Map.empty[(String, Integer), Agg]
    var events = 0L
    var seqSum = 0L
    val total = c.files.toLong * n
    val records = (0 until n).map { r =>
      val idx = f.toLong * n + r
      val baseMs = StartMs + (SpanMs.toDouble * idx / total).toLong
      val kind = kinds(r)
      val json: String = kind match {
        case 'C' =>
          s"""{"messageType":"CONTROL_MESSAGE","owner":"CloudwatchLogs","logGroup":"","logStream":"",""" +
            s""""subscriptionFilters":[],"logEvents":[{"id":"","timestamp":$baseMs,""" +
            s""""message":"CWL CONTROL MESSAGE: Checking health of destination Kinesis stream."}]}"""
        case 'N' =>
          s"this is not a CloudWatch Logs payload: record $idx of seed ${c.seed}"
        case _ =>
          val acct = Accounts(rnd.nextInt(Accounts.length))
          val eni = f"eni-${rnd.nextInt(64)}%08x"
          val nEv = MinEvents + rnd.nextInt(MaxEvents - MinEvents + 1)
          val sb = new StringBuilder(nEv * 520)
          sb.append(s"""{"messageType":"DATA_MESSAGE","owner":"$acct","logGroup":"vpc-flow-logs",""")
          sb.append(s""""logStream":"$eni-all","subscriptionFilters":["flowlogs"],"logEvents":[""")
          var e = 0
          while (e < nEv) {
            val ts = baseMs + rnd.nextInt(5000)
            val endS = ts / 1000
            val startS = endS - 60
            val id = f"$f%06d$seq%014d"
            val nodata = rnd.nextDouble() < NodataShare
            val fields: Array[String] =
              if (nodata)
                Array("2", acct, eni, "-", "-", "-", "-", "-", "-", "-",
                  startS.toString, endS.toString, "-", "NODATA")
              else {
                val pr = rnd.nextInt(100)
                val proto = if (pr < 80) 6 else if (pr < 98) 17 else 1
                val packets = 1 + rnd.nextInt(200)
                val bytes = packets.toLong * (40 + rnd.nextInt(1461))
                val action = if (rnd.nextInt(100) < 85) "ACCEPT" else "REJECT"
                Array("2", acct, eni,
                  s"10.${rnd.nextInt(4)}.${rnd.nextInt(256)}.${rnd.nextInt(256)}",
                  s"172.31.${rnd.nextInt(256)}.${rnd.nextInt(256)}",
                  (1024 + rnd.nextInt(64512)).toString,
                  DstPorts(rnd.nextInt(DstPorts.length)).toString,
                  proto.toString, packets.toString, bytes.toString,
                  startS.toString, endS.toString, action, "OK")
              }
            if (kind == 'D') {
              val key: (String, Integer) =
                if (nodata) (null, null) else (fields(12), Integer.valueOf(fields(7).toInt))
              val add =
                if (nodata) Agg(1, 0, 0) else Agg(1, fields(9).toLong, fields(8).toLong)
              groups(key) = groups.getOrElse(key, Agg(0, 0, 0)) + add
              events += 1
              seqSum += seq
              dates += pDate(ts)
            }
            eventsIn += 1
            seq += 1
            if (e > 0) sb.append(',')
            sb.append(s"""{"id":"$id","timestamp":$ts,"message":"${fields.mkString(" ")}","extractedFields":{""")
            var fi = 0
            while (fi < FieldKeys.length) {
              if (fi > 0) sb.append(',')
              sb.append('"').append(FieldKeys(fi)).append("\":\"").append(fields(fi)).append('"')
              fi += 1
            }
            sb.append("}}")
            e += 1
          }
          sb.append("]}")
          sb.toString
      }
      val raw = json.getBytes(UTF_8)
      val gz = gzip(raw)
      // a truncated record keeps the gzip header and half its body
      val rec = if (kind == 'T') java.util.Arrays.copyOf(gz, gz.length / 2) else gz
      jsonBytes += raw.length
      gzBytes += rec.length
      rec
    }
    Part(records, Totals(events, seqSum, groups.toMap), kinds.mkString,
      eventsIn, gzBytes, jsonBytes, dates.toSet)
  }

  /** The `extractedFields` keys a flow-log subscription filter emits. */
  val FieldKeys: Array[String] = Array(
    "version", "account_id", "interface_id", "srcaddr", "dstaddr", "srcport",
    "dstport", "protocol", "packets", "bytes", "start", "end", "action", "log_status")
}

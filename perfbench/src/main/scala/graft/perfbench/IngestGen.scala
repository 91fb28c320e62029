package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

import graft.ingest.Parsers.{CsvSpec, FwField, FwSpec}

/** Seeded flat-file generator for the ingest workload.
  *
  * Records follow the reference fixtures' shapes (FIXTURES.md): CSV as
  * `B0001,"C00,0001"` (quoted field holding the delimiter) and fixed-width
  * as `B0001C00,0001`, with ids widened only as far as the line count needs,
  * plus a number and a boolean column. A fixed share of records fail: a
  * number or boolean that does not coerce, or a field-count (CSV) or record
  * length (fixed-width) mismatch. The generator decides each record's
  * outcome itself, so the expected SUCCESS/FAILED counts never go through
  * the parsers under test.
  */
object IngestGen {

  /** Shares of records with each defect; a record may draw several. */
  val BadNumber = 0.03
  val BadBoolean = 0.02
  val BadShape = 0.01

  final case class GenFile(path: String, format: String, lines: Long, success: Long) {
    def failed: Long = lines - success
  }

  def idWidth(lines: Long): Int = math.max(4, lines.toString.length)

  val csvSpec: CsvSpec = CsvSpec(
    headers = Vector("key", "value", "amount", "flag"),
    types = Some(Vector("string", "string", "number", "boolean")))

  /** Fixed-width layout for `lines` records: key `B<id>`, value
    * `C00,<id>`, an 8-char number and a 5-char boolean. Unlike CSV fields,
    * fixed-width booleans are not trimmed, so the flag is `false`/`FALSE`.
    */
  def fwSpec(lines: Long): FwSpec = {
    val w = idWidth(lines)
    val keyEnd = w + 1
    val valueEnd = keyEnd + w + 4
    FwSpec(Vector(
      FwField("key", "string", 1, keyEnd),
      FwField("value", "string", keyEnd + 1, valueEnd),
      FwField("amount", "number", valueEnd + 1, valueEnd + 8),
      FwField("flag", "boolean", valueEnd + 9, valueEnd + 13)))
  }

  def write(path: String, format: String, lines: Long, seed: Long): GenFile = {
    val rnd = new SplittableRandom(seed)
    val w = idWidth(lines)
    val out = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(new File(path)), StandardCharsets.UTF_8), 1 << 20)
    var success = 0L
    try {
      var i = 1L
      while (i <= lines) {
        val id = pad(i.toString, w, '0')
        val badNum = rnd.nextDouble() < BadNumber
        val badBool = rnd.nextDouble() < BadBoolean
        val badShape = rnd.nextDouble() < BadShape
        val cents = rnd.nextInt(1000000)
        val amount = if (badNum) s"${cents}x" else s"${cents / 100}.${pad((cents % 100).toString, 2, '0')}"
        val line = format match {
          case "csv" =>
            val flag = if (badBool) "yes" else if (rnd.nextBoolean()) "true" else "FALSE"
            val base = s"""B$id,"C00,$id",$amount,$flag"""
            // a missing or an extra trailing field
            if (!badShape) base else if (rnd.nextBoolean()) s"""B$id,"C00,$id",$amount""" else s"$base,x"
          case "fw" =>
            val flag = if (badBool) "maybe" else if (rnd.nextBoolean()) "false" else "FALSE"
            val base = s"B${id}C00,$id${pad(amount, 8, ' ')}$flag"
            // one character short or long
            if (!badShape) base else if (rnd.nextBoolean()) base.dropRight(1) else base + " "
        }
        if (!(badNum || badBool || badShape)) success += 1
        out.write(line)
        out.write('\n')
        i += 1
      }
    } finally out.close()
    GenFile(path, format, lines, success)
  }

  private def pad(s: String, width: Int, fill: Char): String =
    if (s.length >= width) s else fill.toString * (width - s.length) + s
}

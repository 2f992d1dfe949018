package graft

import java.io.StringWriter
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonGenerator, JsonProcessingException, PrettyPrinter}
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The one JSON codec of the harness: every receipt (Bench's line,
  * BENCH_DETAIL and profile, StreamBench, the scale verdict, Verify's
  * files) and the three committed gate ledgers are written and read
  * here, through the Jackson that ships with Spark.
  *
  * A value is built from plain Scala values: [[obj]] (fields in order,
  * so an object is never a Map), any other `Iterable` (an array),
  * `Option` (null when empty), `String`, `Boolean`, `Int`, `Long`,
  * `Double` (3 decimals) or [[Num]] (its own decimals). Numbers go out as fixed-digit text, so every receipt keeps
  * the digits it always had. A non-finite number (a zero reference, a
  * drained-zero-rows cell) is written as [[NonFinite]]: unquoted
  * `Infinity` is not JSON, and it would appear exactly when a row is
  * most broken.
  *
  * Reading is a tree read. A file that does not exist reads as None, so a
  * first run seeds; a file that exists but does not parse, or lacks a
  * field its reader needs, throws an error that names the file.
  */
private[graft] object Json {

  final case class Obj(fields: Seq[(String, Any)])
  final case class Num(value: Double, digits: Int)

  def obj(fields: (String, Any)*): Obj = Obj(fields)

  /** `m` as an object sorted by name, each number at `digits` decimals. */
  def sorted(m: collection.Map[String, Double], digits: Int): Obj =
    Obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> Num(v, digits) })

  val NonFinite = 9.0e9

  private val mapper = new ObjectMapper()

  /** `v` as compact JSON text. */
  def render(v: Any): String = generate(v, None)

  private def generate(v: Any, layout: Option[PrettyPrinter]): String = {
    val out = new StringWriter()
    val g = mapper.getFactory.createGenerator(out)
    layout.foreach(g.setPrettyPrinter)
    try write(g, v) finally g.close()
    out.toString
  }

  private def write(g: JsonGenerator, v: Any): Unit = v match {
    case null | None => g.writeNull()
    case Some(x) => write(g, x)
    case s: String => g.writeString(s)
    case b: Boolean => g.writeBoolean(b)
    case i: Int => g.writeNumber(i)
    case l: Long => g.writeNumber(l)
    case d: Double => write(g, Num(d, 3))
    case Num(d, digits) =>
      g.writeNumber(Measure.num(if (java.lang.Double.isFinite(d)) d else NonFinite, digits))
    case Obj(fields) =>
      g.writeStartObject()
      fields.foreach { case (k, x) => g.writeFieldName(k); write(g, x) }
      g.writeEndObject()
    case xs: Iterable[_] =>
      g.writeStartArray()
      xs.foreach(write(g, _))
      g.writeEndArray()
    case other =>
      throw new IllegalArgumentException(s"no JSON form for ${other.getClass.getName}")
  }

  /** Writes `root` as a committed ledger file: one top-level field a
    * line, the entries of the object field `grouped` `perLine` to a line,
    * and every other value on its field's line. */
  def writeLedger(path: String, root: Obj, grouped: String = "",
      perLine: Int = 1): Unit = {
    Files.writeString(Paths.get(path),
      generate(root, Some(new LedgerLayout(grouped, perLine))) + "\n")
    ()
  }

  private final class LedgerLayout(grouped: String, perLine: Int) extends PrettyPrinter {
    private var depth = 0
    private var inGroup = false
    private var entries = 0
    override def writeRootValueSeparator(g: JsonGenerator): Unit = ()
    override def writeStartObject(g: JsonGenerator): Unit = {
      inGroup = depth == 1 &&
        Option(g.getOutputContext.getParent).exists(_.getCurrentName == grouped)
      depth += 1
      entries = 0
      g.writeRaw('{')
    }
    override def beforeObjectEntries(g: JsonGenerator): Unit =
      if (depth == 1) g.writeRaw("\n  ") else if (inGroup) g.writeRaw("\n    ")
    override def writeObjectFieldValueSeparator(g: JsonGenerator): Unit =
      g.writeRaw(if (depth == 1) ": " else ":")
    override def writeObjectEntrySeparator(g: JsonGenerator): Unit = {
      entries += 1
      g.writeRaw(if (depth == 1) ",\n  "
        else if (inGroup && entries % perLine == 0) ",\n    " else ",")
    }
    override def writeEndObject(g: JsonGenerator, n: Int): Unit = {
      g.writeRaw(if (depth == 1) "\n}" else if (inGroup) "\n  }" else "}")
      depth -= 1
      inGroup = false
    }
    override def writeStartArray(g: JsonGenerator): Unit = g.writeRaw('[')
    override def beforeArrayValues(g: JsonGenerator): Unit = ()
    override def writeArrayValueSeparator(g: JsonGenerator): Unit = g.writeRaw(',')
    override def writeEndArray(g: JsonGenerator, n: Int): Unit = g.writeRaw(']')
  }

  /** The JSON object in file `path`; None when the file does not exist. */
  def read(path: String): Option[JsonNode] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) None else Some(parse(Files.readString(p), path))
  }

  /** `text` as a JSON object; `source` names it in the error when it is
    * not one. */
  def parse(text: String, source: String): JsonNode = {
    val node =
      try mapper.readTree(text)
      catch { case e: JsonProcessingException =>
        throw bad(source, s"is not valid JSON (${e.getOriginalMessage})")
      }
    if (node == null || !node.isObject) throw bad(source, "is not a JSON object")
    node
  }

  /** Field `key` of `node`, read from `source`; throws when absent. */
  def get(node: JsonNode, key: String, source: String): JsonNode =
    Option(node.get(key)).getOrElse(throw bad(source, s"has no field \"$key\""))

  /** The fields of object `node`, in order. */
  def fields(node: JsonNode): Seq[(String, JsonNode)] =
    node.properties().asScala.toSeq.map(e => e.getKey -> e.getValue)

  /** Field `key` of `node` as a number; throws when absent or not one. */
  def number(node: JsonNode, key: String, source: String): JsonNode = {
    val v = get(node, key, source)
    if (!v.isNumber) throw bad(source, s"field \"$key\" is not a number")
    v
  }

  /** The object field `key` of `node` as name -> number. */
  def numbers(node: JsonNode, key: String, source: String): Map[String, Double] = {
    val m = get(node, key, source)
    fields(m).map { case (k, _) => k -> number(m, k, s"$source \"$key\"").asDouble }.toMap
  }

  private def bad(source: String, what: String) =
    new IllegalStateException(s"$source $what")
}

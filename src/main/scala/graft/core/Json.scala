package graft.core

import java.io.{InputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8

import com.fasterxml.jackson.core.util.{DefaultPrettyPrinter, Separators}
import com.fasterxml.jackson.core.util.Separators.Spacing
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper, ObjectWriter}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** The one JSON codec of the engine: every sidecar, commit marker,
  * report, oracle dump and bench record is written and read here.
  *
  * Files use Python `json.dumps`' default layout, `{"k": v, "a": [1, 2]}`
  * — the layout the reference's own sidecars carry (faiss_builder.py
  * writes `.metadata.json` with the stdlib `json` module). The bench
  * record uses the compact layout, which keeps its stdout line inside its
  * character budget. Content-addressed IDs hash a different, byte-exact
  * form ([[CanonicalJson]]); nothing here may feed an ID.
  */
object Json {

  /** The shared mapper, Scala module registered: Scala maps, sequences
    * and options serialize as JSON objects, arrays and nullable values. */
  val mapper: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  private val dumpsWriter: ObjectWriter = {
    val separators = Separators.createDefaultInstance()
      .withObjectFieldValueSpacing(Spacing.AFTER)
      .withObjectEntrySpacing(Spacing.AFTER)
      .withArrayValueSpacing(Spacing.AFTER)
      .withObjectEmptySeparator("")
      .withArrayEmptySeparator("")
    val noIndent = new DefaultPrettyPrinter.NopIndenter
    mapper.writer(new DefaultPrettyPrinter(separators)
      .withObjectIndenter(noIndent).withArrayIndenter(noIndent))
  }

  def obj(): ObjectNode = mapper.createObjectNode()

  /** `json.dumps(v)`: one line, ", " and ": " separators. */
  def dumps(v: Any): String = dumpsWriter.writeValueAsString(v)

  /** No whitespace at all (`separators=(",", ":")`). */
  def compact(v: Any): String = mapper.writeValueAsString(v)

  def parse(s: String): JsonNode = mapper.readTree(s)

  /** Writes `v` in the [[dumps]] layout and closes the stream. */
  def write(out: OutputStream, v: Any): Unit =
    try out.write(dumps(v).getBytes(UTF_8)) finally out.close()

  /** Reads one JSON document and closes the stream. A torn document
    * throws Jackson's `JsonProcessingException`. */
  def read(in: InputStream): JsonNode =
    try mapper.readTree(in) finally in.close()
}

package graft

import com.fasterxml.jackson.annotation.JsonInclude.Include
import com.fasterxml.jackson.core.JsonGenerator
import com.fasterxml.jackson.databind.{DeserializationFeature, SerializerProvider}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.databind.module.SimpleModule
import com.fasterxml.jackson.databind.ser.std.StdSerializer
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.reflect.ClassTag

/** The engine's one JSON codec: every JSON file it writes or reads — the
  * table manifests and schema sidecars, the streaming corpus build's
  * state, bench.json, `ClusterProbe`'s result lines and Verify's
  * artifacts — is a case class this object encodes, through one Jackson
  * mapper built once per JVM.
  *
  * Encoding is compact, fields in constructor order (or a class's
  * `@JsonPropertyOrder`), `None` fields omitted. Decoding is strict: a
  * document that is not exactly one JSON value of the target's shape —
  * truncated, trailing bytes, an unknown or missing field, a null or a
  * fraction where an integer belongs — is an error, never a partial
  * value. A constructor parameter with a default may be absent.
  */
object JsonCodec {

  /** A number written with exactly `places` decimals (`%.<places>f`, so
    * a non-finite value writes as `NaN`/`Infinity`): bench.json's
    * timings and ratios keep a fixed precision.
    */
  final case class Fixed(value: Double, places: Int)

  private object FixedSerializer extends StdSerializer[Fixed](classOf[Fixed]) {
    override def serialize(f: Fixed, g: JsonGenerator, p: SerializerProvider): Unit =
      g.writeNumber(s"%.${f.places}f".format(f.value))
  }

  private val mapper = JsonMapper.builder()
    .addModule(DefaultScalaModule)
    .addModule(new SimpleModule().addSerializer(classOf[Fixed], FixedSerializer))
    .serializationInclusion(Include.NON_ABSENT)
    .enable(DeserializationFeature.FAIL_ON_TRAILING_TOKENS,
      DeserializationFeature.FAIL_ON_NULL_FOR_PRIMITIVES,
      DeserializationFeature.FAIL_ON_NULL_CREATOR_PROPERTIES)
    .disable(DeserializationFeature.ACCEPT_FLOAT_AS_INT)
    .build()

  def write(value: AnyRef): String = mapper.writeValueAsString(value)

  /** `s` decoded as a `T`; throws on anything but exactly one `T`. */
  def read[T](s: String)(implicit t: ClassTag[T]): T =
    mapper.readValue(s, t.runtimeClass.asInstanceOf[Class[T]])

  /** The file at `p` decoded as a `T`: None when it is absent,
    * unreadable or not exactly one `T` (a torn or corrupted file).
    */
  def readFile[T](p: Path)(implicit t: ClassTag[T]): Option[T] =
    try Some(mapper.readValue(Files.readAllBytes(p), t.runtimeClass.asInstanceOf[Class[T]]))
    catch { case scala.util.control.NonFatal(_) => None }

  /** Write `value` to `p` through a `.tmp` sibling and one atomic rename
    * ([[graft.pipeline.TableIO.writeAtomically]]).
    */
  def writeFile(p: Path, value: AnyRef): Unit =
    graft.pipeline.TableIO.writeAtomically(p, write(value).getBytes(StandardCharsets.UTF_8))
}

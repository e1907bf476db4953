package graft

import com.fasterxml.jackson.databind.{DeserializationFeature, MapperFeature, SerializationFeature}
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets.UTF_8
import scala.reflect.{ClassTag, classTag}

/** The engine's one JSON codec (Jackson and its Scala module, from the
  * Spark jars): the landing manifest, the tech log, Verify's
  * `oracle_sql.json`, Bench's baseline and the strings Bench prints.
  * Strict, so a torn or hand-edited record fails its read instead of
  * reading as zeros or nulls: a missing or null case-class field fails,
  * a scalar of the wrong type ("5" for a Long) is not coerced, and dates
  * are ISO-8601 strings, which Spark's JSON reader parses too.
  */
object Json {
  private val mapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .enable(DeserializationFeature.FAIL_ON_MISSING_CREATOR_PROPERTIES,
      DeserializationFeature.FAIL_ON_NULL_CREATOR_PROPERTIES)
    .disable(MapperFeature.ALLOW_COERCION_OF_SCALARS)
    .disable(SerializationFeature.WRITE_DATES_AS_TIMESTAMPS)
    .build()

  /** `s` as a JSON string literal, every control character escaped. */
  def quote(s: String): String = mapper.writeValueAsString(s)

  /** `text` as an `A`; throws when it is not JSON or `A` rejects it. */
  def parse[A: ClassTag](text: String): A =
    mapper.readValue(text, classTag[A].runtimeClass.asInstanceOf[Class[A]])

  /** `value` as the whole file at `path`, written on the driver through
    * the path's Hadoop filesystem: no Spark job. [[read]] is its inverse.
    */
  def write(spark: SparkSession, path: String, value: Any): Unit = {
    val p = new Path(path)
    val out = p.getFileSystem(spark.sessionState.newHadoopConf()).create(p, true)
    try out.write(mapper.writeValueAsString(value).getBytes(UTF_8)) finally out.close()
  }

  def read[A: ClassTag](spark: SparkSession, path: String): A = {
    val p = new Path(path)
    val in = p.getFileSystem(spark.sessionState.newHadoopConf()).open(p)
    try parse[A](new String(in.readAllBytes(), UTF_8)) finally in.close()
  }
}

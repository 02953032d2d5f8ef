package graft.model

import java.{util => ju}
import org.yaml.snakeyaml.Yaml
import scala.jdk.CollectionConverters._

/** Pipeline configuration — the YAML surface of the reference engine.
  *
  * Key set mirrors /root/reference/filefilter.py:283-312 (top-level
  * `inDelimiter, outDelimiter, sampleLines, reloadConfigEverySeconds,
  * filters[]`) and per-filter keys at filefilter.py:306-363 (`name,
  * actionType, disabled, filterThreads, chunkSize, code, actionConfig,
  * showSampleOnFinish`). `code` is accepted both top-level and nested
  * under `actionConfig` (the reference only reads the former,
  * filefilter.py:56, which makes examples/countries/countries.yml:20 a
  * silent no-op — we heal it).
  *
  * Divergences (SURVEY.md §7): `chunkSize` is parsed but ignored (Spark
  * partitions are the chunks). `reloadConfigEverySeconds` IS honored for
  * the one thing the reference actually reloads — per-filter
  * `filterThreads` (filefilter.py:144-171 setNewThreads): rest-stage
  * worker pools re-read the config between waves and resize (see
  * [[graft.operators.RestStage]]); `reloadConfigEvery` (the key the
  * reference's own fullExample.yml uses) is accepted as an alias.
  */
final case class StageConfig(
    name: String,
    actionType: String,
    disabled: Boolean,
    filterThreads: Int,
    chunkSize: Int,
    code: Option[String],
    actionConfig: Map[String, Any],
    showSampleOnFinish: Boolean)

final case class PipelineConfig(
    inDelimiter: String,
    outDelimiter: String,
    sampleLines: Long,
    reloadConfigEverySeconds: Int,
    filters: List[StageConfig])

/** The one typed reader of a YAML map: every config value — top-level,
  * per-filter and each stage's `actionConfig` — is read through it, with
  * one rule per type. An absent or blank (`key:`) value reads as the
  * default. Integers accept a YAML integer, an integral float (`2.0`) or
  * a string holding one, if it fits the field's type; doubles accept any
  * number or numeric string; booleans accept a YAML boolean or
  * true/false/yes/no in any case; strings are the value's `toString`.
  * Lists and maps apply the same rule to each element. Anything else
  * throws one IllegalArgumentException naming `where`, the key, the value
  * and the expected type.
  */
final class Options(where: String, val values: Map[String, Any]) {
  private def raw(k: String): Option[Any] = values.get(k).filter(_ != null)

  private def at(k: String): String = if (where == Options.Top) k else s"$where: $k"

  private def fail(k: String, v: Any, what: String): Nothing =
    throw new IllegalArgumentException(s"$where: $k = '$v' is not $what")

  private def parse[T](k: String, v: Any)(implicit r: Options.Read[T]): T =
    Option(v).flatMap(r.parse).getOrElse(fail(k, v, r.what))

  /** The value at `k`, None when absent or blank. */
  def get[T: Options.Read](k: String): Option[T] = raw(k).map(parse[T](k, _))

  def apply[T: Options.Read](k: String, default: T): T = get[T](k).getOrElse(default)

  def isList(k: String): Boolean = raw(k).exists(_.isInstanceOf[ju.List[_]])

  def isMap(k: String): Boolean = raw(k).exists(_.isInstanceOf[ju.Map[_, _]])

  private def items(k: String): Seq[(Any, Int)] = raw(k).fold(Seq.empty[(Any, Int)]) {
    case l: ju.List[_] => l.asScala.toSeq.zipWithIndex
    case v => fail(k, v, "a list")
  }

  /** The list at `k`; empty when absent or blank. */
  def list[T: Options.Read](k: String): Seq[T] =
    items(k).map { case (v, i) => parse[T](s"$k[$i]", v) }

  /** The map at `k` in its YAML order; empty when absent or blank. */
  def map[T: Options.Read](k: String): Seq[(String, T)] = raw(k).fold(Seq.empty[(String, T)]) {
    case m: ju.Map[_, _] => m.asScala.toSeq.map { case (a, v) => s"$a" -> parse[T](s"$k.$a", v) }
    case v => fail(k, v, "a map")
  }

  /** The map at `k` as a reader of its own; empty when absent or blank. */
  def section(k: String): Options = Options(at(k), raw(k).orNull)

  /** The list of maps at `k`, one reader each. */
  def sections(k: String): Seq[Options] = items(k).map { case (v, i) => Options(s"${at(k)}[$i]", v) }
}

object Options {
  /** The `where` of a config file's root map. */
  val Top = "top level"

  /** How one YAML value reads as a T; None means malformed. */
  final case class Read[T](what: String, parse: Any => Option[T])

  object Read {
    private def decimal(v: Any): Option[BigDecimal] = v match {
      case _: Number | _: String => scala.util.Try(BigDecimal(v.toString.trim)).toOption
      case _ => None
    }
    private def whole[T](what: String, lo: Long, hi: Long)(to: BigDecimal => T): Read[T] =
      Read(what, decimal(_).filter(d => d.isWhole && d >= lo && d <= hi).map(to))

    implicit val int: Read[Int] = whole("an integer in Int range", Int.MinValue, Int.MaxValue)(_.toInt)
    implicit val long: Read[Long] = whole("an integer in Long range", Long.MinValue, Long.MaxValue)(_.toLong)
    implicit val double: Read[Double] = Read("a number", {
      case n: Number => Some(n.doubleValue)
      case s: String => s.trim.toDoubleOption
      case _ => None
    })
    implicit val bool: Read[Boolean] = Read("true/false/yes/no", {
      case b: java.lang.Boolean => Some(b.booleanValue)
      case s: String => s.toLowerCase match {
        case "true" | "yes" => Some(true)
        case "false" | "no" => Some(false)
        case _ => None
      }
      case _ => None
    })
    implicit val string: Read[String] = Read("a string", v => Some(v.toString))
  }

  /** A YAML map as a reader: null (blank) is empty, a non-map throws. */
  def apply(where: String, v: Any): Options = v match {
    case null => new Options(where, Map.empty)
    case m: ju.Map[_, _] => new Options(where, m.asScala.map { case (k, x) => s"$k" -> x }.toMap)
    case other => throw new IllegalArgumentException(s"$where: '$other' is not a map")
  }

  /** A stage's `actionConfig`, its errors named after the stage. */
  def apply(cfg: StageConfig): Options =
    new Options(s"${cfg.actionType} stage '${cfg.name}'", cfg.actionConfig)
}

object ConfigLoader {
  private val KnownActionTypes =
    Set("sql", "python", "rest", "pandas", "udf", "derive", "transform",
      "dedup", "decontaminate", "split", "mix", "score", "clean")

  /** Read a config file as UTF-8, whatever the platform charset. */
  def fromFile(path: String): PipelineConfig =
    fromYaml(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
      java.nio.charset.StandardCharsets.UTF_8))

  def fromYaml(yaml: String): PipelineConfig = {
    val root = Options(Options.Top, new Yaml().load[Any](yaml))
    PipelineConfig(
      // "" = not declared → Sources.load sniffs the delimiter, matching
      // the reference's read_csv_auto path (countries.yml declares none
      // but ships a ';' CSV)
      inDelimiter = root("inDelimiter", ""),
      outDelimiter = root("outDelimiter", ","),
      sampleLines = root("sampleLines", 0L),
      reloadConfigEverySeconds = root("reloadConfigEverySeconds", root("reloadConfigEvery", 0)),
      filters = root.sections("filters").zipWithIndex.map { case (m, i) => stage(m, i) }.toList)
  }

  private def stage(m: Options, i: Int): StageConfig = {
    val action = m.get[String]("actionType")
      .getOrElse(throw new IllegalArgumentException(s"filters[$i]: missing actionType"))
    // Fail fast on unknown formats/actions — reference O4 semantics.
    if (!KnownActionTypes.contains(action))
      throw new IllegalArgumentException(
        s"filters[$i]: unsupported actionType '$action' (known: ${KnownActionTypes.toSeq.sorted.mkString(", ")})")
    val ac = m.section("actionConfig")
    StageConfig(
      name = m("name", s"filter$i"),
      actionType = action,
      disabled = m("disabled", false),
      filterThreads = m("filterThreads", 1),
      chunkSize = m("chunkSize", 10000),
      // code may live top-level (reference behavior) or under actionConfig.
      code = m.get[String]("code").orElse(ac.get[String]("code")),
      actionConfig = ac.values,
      showSampleOnFinish = m("showSampleOnFinish", false))
  }
}

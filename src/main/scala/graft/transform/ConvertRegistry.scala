package graft.transform

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.json4s._

/** The `convert` transform: petl spec forms reachable from the reference's
  * JSON DSL (/root/reference/dasladen/task.py:146-149) compiled to Column
  * functions (codegen'd — never UDFs).
  *
  * String spec = no-arg method invoked per cell (petl semantics); mapped
  * here to the Spark equivalent. Object spec = value→value dictionary
  * mapping with passthrough for unmapped values (petl `convert` dict form).
  */
object ConvertRegistry {

  /** Methods whose semantics depend on the public-suffix rule set —
    * compiled against the task's `psl`-loaded rules when the transform
    * node carries one, the bundled subset otherwise.
    */
  private def pslMethods(rules: graft.ops.PublicSuffixRules)
      : Map[String, Column => Column] = Map(
    "url_domain"        -> (c => graft.ops.Web.urlDomain(c, rules)),
    "registered_domain" -> (c => graft.ops.Web.registeredDomain(c, rules)))

  val methods: Map[String, Column => Column] = Map(
    "upper"      -> (c => upper(c)),
    "lower"      -> (c => lower(c)),
    "strip"      -> (c => trim(c)),
    "lstrip"     -> (c => ltrim(c)),
    "rstrip"     -> (c => rtrim(c)),
    "title"      -> (c => initcap(c)),
    "capitalize" -> (c => concat(upper(substring(c, 1, 1)), lower(substring(c, 2, Int.MaxValue)))),
    // type coercions (petl passes int/float/str callables by name)
    "int"        -> (c => c.cast("long")),
    "float"      -> (c => c.cast("double")),
    "str"        -> (c => c.cast("string")),
    "bool"       -> (c => c.cast("boolean")),
    // URL/domain canonicalization knobs (graft.ops.Web): the task-DSL
    // route to per-domain keys for cap/split/contamination pipelines
    "canonical_url"     -> (c => graft.ops.Web.canonicalizeUrl(c)),
    "url_host"          -> (c => graft.ops.Web.urlHost(c)),
    "url_domain"        -> (c => graft.ops.Web.urlDomain(c)),
    // registered-domain cut of a field that already holds a bare host
    "registered_domain" -> (c => graft.ops.Web.registeredDomain(c)),
    // crawl-intake extraction: markup field -> rendered text
    "html_to_text"      -> (c => graft.ops.Web.htmlToText(c)),
    // entity decode ALONE (text that was entity-escaped but carries no
    // markup to strip — feed archives, scraped attributes)
    "decode_entities"   -> (c => graft.ops.Web.decodeHtmlEntitiesComposed(c)))

  def compile(colName: String, spec: JValue,
              rules: Option[graft.ops.PublicSuffixRules] = None): Column =
    compile(col(colName), spec, rules)

  /** Compile one convert spec (string method name or dict mapping) into a
    * Column transformation of `input` (a column, or an earlier convert of
    * the same field). `rules` (the transform node's `psl`-loaded
    * [[graft.ops.PublicSuffixRules]]) reroutes the domain-cut methods;
    * every other method ignores it.
    */
  def compile(input: Column, spec: JValue,
              rules: Option[graft.ops.PublicSuffixRules]): Column =
    spec match {
    case JString(method) =>
      val table = rules.map(r => methods ++ pslMethods(r)).getOrElse(methods)
      table.getOrElse(method,
        throw new IllegalArgumentException(
          s"unsupported convert method '$method' (supported: ${methods.keys.toSeq.sorted.mkString(", ")})"))
        .apply(input)
    case JObject(fields) =>
      // dictionary mapping with passthrough default — chained when()s keep
      // it codegen-friendly for the small maps this DSL carries.
      fields.foldRight(input) { case ((from, to), rest) =>
        val target = to match {
          case JString(s) => lit(s)
          case JInt(i)    => lit(i.toLong)
          case JDouble(d) => lit(d)
          case JBool(b)   => lit(b)
          case JNull      => lit(null)
          case other      => lit(other.toString)
        }
        when(input === lit(from), target).otherwise(rest)
      }
    case other =>
      throw new IllegalArgumentException(s"unsupported convert spec: $other")
  }
}

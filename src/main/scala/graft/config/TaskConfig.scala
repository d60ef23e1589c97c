package graft.config

import org.json4s._
import org.json4s.jackson.JsonMethods

/** JSON task-file model, mirroring the reference DSL
  * (/root/reference/dasladen/taskrun.py:22-55; task shapes task.py:174-599).
  *
  * The reference schema is dynamic — every task type reads its own optional
  * keys — so the model is a thin typed facade over the parsed JSON rather
  * than 15 rigid case classes: [[Node]] wraps a JValue with accessors that
  * encode the reference's defaulting rules, and `$env.` indirection
  * (taskdriver.py:49-54) is resolved at access time.
  */
object TaskConfig {

  /** `$env.VAR` → environment value; anything else verbatim
    * (reference get_env, taskdriver.py:49-54).
    */
  def resolveEnv(value: String): String =
    if (value.length > 5 && value.startsWith("$env."))
      sys.env.getOrElse(value.substring(5),
        Option(System.getProperty(value.substring(5))).getOrElse(
          throw new IllegalArgumentException(s"environment variable not set: ${value.substring(5)}")))
    else value

  /** Dynamic accessor over a JSON object node. */
  final case class Node(j: JValue) {
    def has(key: String): Boolean = (j \ key) != JNothing

    def apply(key: String): Node = Node(j \ key)

    def strOpt(key: String): Option[String] = j \ key match {
      case JString(s) => Some(resolveEnv(s))
      case JInt(i)    => Some(i.toString)
      case JDouble(d) => Some(d.toString)
      case _          => None
    }

    def str(key: String): String = strOpt(key).getOrElse(
      throw new IllegalArgumentException(s"missing required config key: $key"))

    def str(key: String, default: String): String = strOpt(key).getOrElse(default)

    def boolOpt(key: String): Option[Boolean] = j \ key match {
      case JBool(b) => Some(b)
      case _        => None
    }

    def bool(key: String, default: Boolean = false): Boolean =
      boolOpt(key).getOrElse(default)

    /** Boolean knob accepting both spellings — the JSON boolean
      * (`"leak_screen": true`, the convention of `truncate`/`disabled`)
      * and the string form (`"leak_screen": "true"`). Any other value
      * is an error, never a silent false.
      */
    def flagOpt(key: String): Option[Boolean] = j \ key match {
      case JBool(b)   => Some(b)
      case JString(s) => s.trim.toLowerCase match {
        case "true"  => Some(true)
        case "false" => Some(false)
        case other   => throw new IllegalArgumentException(
          s"config key $key: expected a boolean, got: $other")
      }
      case JNothing   => None
      case other      => throw new IllegalArgumentException(
        s"config key $key: expected a boolean, got: $other")
    }

    def flag(key: String, default: Boolean = false): Boolean =
      flagOpt(key).getOrElse(default)

    /** Reference tolerates int-or-string numerics (`times: "5"`,
      * processor.py:190-196 intent).
      */
    def intOpt(key: String): Option[Int] = j \ key match {
      case JInt(i)    => Some(i.toInt)
      case JString(s) => s.trim.toIntOption
      case JDouble(d) => Some(d.toInt)
      case _          => None
    }

    def int(key: String, default: Int): Int = intOpt(key).getOrElse(default)

    def arr(key: String): Seq[Node] = j \ key match {
      case JArray(xs) => xs.map(Node(_))
      case _          => Seq.empty
    }

    def strArr(key: String): Seq[String] = j \ key match {
      case JArray(xs) => xs.collect { case JString(s) => resolveEnv(s) }
      case _          => Seq.empty
    }

    /** [[old, new], ...] pair-list shape used by convert/rename
      * (task.py:146-149, 160-164).
      */
    def pairs(key: String): Seq[(String, JValue)] = j \ key match {
      case JArray(xs) => xs.collect { case JArray(List(JString(a), b)) => (a, b) }
      case _          => Seq.empty
    }

    def objMap(key: String): Map[String, JValue] = j \ key match {
      case JObject(fields) => fields.toMap
      case _               => Map.empty
    }

    /** Object fields in DECLARATION order — for nodes where order is part
      * of the contract (a CSV `schema` maps fields to file columns by
      * position).
      */
    def objFields(key: String): Seq[(String, JValue)] = j \ key match {
      case JObject(fields) => fields
      case _               => Seq.empty
    }
  }

  /** Whole task file: tasks + optional connections + optional schedule
    * (taskrun.py:32-55).
    */
  final case class TaskFile(root: Node) {
    def tasks: Seq[Node] = root.arr("tasks")
    def connections: Seq[Node] = root.arr("connections")
    def connection(name: String): Node = connections
      .find(_.str("name", "") == name)
      .getOrElse(throw new NoSuchElementException(s"connection not found: $name"))
    def hasSchedule: Boolean =
      root.has("schedule") && root("schedule").bool("recurring")
    def schedule: Node = root("schedule")
  }

  def parse(json: String): TaskFile = {
    val root = JsonMethods.parse(json)
    TaskFile(Node(root))
  }

  def parseFile(path: String): TaskFile = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try parse(src.mkString)
    finally src.close()
  }

  /** A file is a task file iff it is JSON with a "tasks" key
    * (taskrun.py:32-39).
    */
  def isTaskFile(path: String): Boolean =
    path.endsWith(".json") && new java.io.File(path).isFile && {
      try parseFile(path).root.has("tasks")
      catch { case _: Exception => false }
    }
}

package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Doris JSON/JSONB family that Spark lacks natively (reference:
  * be/src/exprs/function/function_jsonb.cpp — json_set / json_insert /
  * json_replace / json_remove / json_type / json_length / json_search /
  * jsonb_extract and its typed variants / jsonb_parse error modes;
  * function_jsonb_transform.cpp — sort_json_object_keys,
  * normalize_json_numbers_to_double, json_object_flatten; MySQL-
  * compatible semantics: insert only-if-absent, replace only-if-
  * present, set always).
  *
  * Paths support `$`, `.key`, `."quoted key"`, `[n]`, and the one-level
  * wildcards `[*]` / `.*` (a wildcard path yields the ARRAY of matches,
  * MySQL-style). Implemented over Jackson (already on Spark's
  * classpath) as Scala UDFs — row-local scalar transforms with no
  * state, so they shard perfectly; they sit outside codegen, which is
  * fine off the TB-scan hot path.
  */
object JsonFunctions extends Serializable {

  private val mapper = new ObjectMapper()

  private def parse(s: String): Option[JsonNode] =
    if (s == null) None
    else try Some(mapper.readTree(s)) catch { case _: Exception => None }

  private def parseValue(v: String): JsonNode =
    if (v == null) mapper.nullNode()
    else try mapper.readTree(v) catch { case _: Exception => mapper.getNodeFactory.textNode(v) }

  // ---------------------------------------------------------------- paths

  sealed private trait Tok
  private case class Key(k: String) extends Tok
  private case class Idx(i: Int) extends Tok
  private case object AnyIdx extends Tok
  private case object AnyKey extends Tok

  /** `$`(`.key`|`."quoted"`|`[n]`|`[*]`|`.*`)* — None on malformed. */
  private def tokenize(p: String): Option[List[Tok]] = {
    if (p == null || p.isEmpty || p.charAt(0) != '$') return None
    val out = List.newBuilder[Tok]
    var i = 1
    while (i < p.length) {
      p.charAt(i) match {
        case '.' =>
          i += 1
          if (i >= p.length) return None
          if (p.charAt(i) == '*') { out += AnyKey; i += 1 }
          else if (p.charAt(i) == '"') {
            val end = p.indexOf('"', i + 1)
            if (end < 0) return None
            out += Key(p.substring(i + 1, end)); i = end + 1
          } else {
            val start = i
            while (i < p.length && p.charAt(i) != '.' && p.charAt(i) != '[') i += 1
            if (i == start) return None
            out += Key(p.substring(start, i))
          }
        case '[' =>
          val end = p.indexOf(']', i)
          if (end < 0) return None
          val inner = p.substring(i + 1, end).trim
          if (inner == "*") out += AnyIdx
          else try out += Idx(inner.toInt) catch { case _: Exception => return None }
          i = end + 1
        case _ => return None
      }
    }
    Some(out.result())
  }

  private def hasWildcard(toks: List[Tok]): Boolean =
    toks.exists(t => t == AnyIdx || t == AnyKey)

  private def walk(root: JsonNode, toks: List[Tok]): List[JsonNode] =
    toks.foldLeft(List(root)) { (nodes, t) =>
      nodes.flatMap { n =>
        t match {
          case Key(k)  => if (n.isObject && n.has(k)) List(n.get(k)) else Nil
          case Idx(i)  => if (n.isArray && n.size() > i && i >= 0) List(n.get(i)) else Nil
          case AnyIdx  =>
            if (n.isArray) { val b = List.newBuilder[JsonNode]; n.forEach(e => b += e); b.result() }
            else Nil
          case AnyKey  =>
            if (n.isObject) { val b = List.newBuilder[JsonNode]; n.elements().forEachRemaining(e => b += e); b.result() }
            else Nil
        }
      }
    }

  /** Resolve a path to a single result node: wildcard paths collect
    * matches into an array (None when no match). */
  private[graft] def resolve(doc: String, path: String): Option[JsonNode] =
    (parse(doc), tokenize(path)) match {
      case (Some(root), Some(toks)) =>
        val hits = walk(root, toks)
        if (hasWildcard(toks)) {
          if (hits.isEmpty) None
          else {
            val arr = mapper.createArrayNode()
            hits.foreach(arr.add)
            Some(arr)
          }
        } else hits.headOption
      case _ => None
    }

  // ------------------------------------------------------------- mutation

  /** mode: 0=set (always), 1=insert (only absent), 2=replace (only present).
    *
    * MySQL no-op contract (ADVICE r03): a valid document where the
    * path's PARENT does not resolve to a container, or whose last step
    * is a wildcard, returns the document UNCHANGED — NULL only for
    * NULL/unparseable documents. Root path `$` follows MySQL:
    * set/replace substitute the whole document, insert no-ops. Array
    * index beyond the end appends (set/insert). */
  private[graft] def mutate(doc: String, path: String, value: String, mode: Int): String =
    parse(doc) match {
      case None => null
      case Some(root) =>
        tokenize(path) match {
          case None => doc
          case Some(Nil) =>
            if (mode == 1) doc else mapper.writeValueAsString(parseValue(value))
          case Some(toks) if hasWildcard(toks) => doc
          case Some(toks) =>
            val parents = walk(root, toks.init)
            parents.headOption match {
              case Some(obj: ObjectNode) =>
                toks.last match {
                  case Key(k) =>
                    val present = obj.has(k)
                    val write = mode match {
                      case 0 => true
                      case 1 => !present
                      case _ => present
                    }
                    if (write) obj.set[JsonNode](k, parseValue(value))
                    mapper.writeValueAsString(root)
                  case _ => doc
                }
              case Some(arr: ArrayNode) =>
                toks.last match {
                  case Idx(i) if i >= 0 =>
                    if (i < arr.size()) {
                      if (mode != 1) arr.set(i, parseValue(value))
                    } else if (mode != 2) arr.add(parseValue(value))
                    mapper.writeValueAsString(root)
                  case _ => doc
                }
              case _ => doc
            }
        }
    }

  private[graft] def remove(doc: String, path: String): String =
    parse(doc) match {
      case None => null
      case Some(root) =>
        tokenize(path) match {
          case None | Some(Nil) => null // MySQL: '$' is an error for json_remove
          case Some(toks) if hasWildcard(toks) => doc
          case Some(toks) =>
            walk(root, toks.init).headOption match {
              case Some(obj: ObjectNode) =>
                toks.last match {
                  case Key(k) => obj.remove(k); mapper.writeValueAsString(root)
                  case _      => doc
                }
              case Some(arr: ArrayNode) =>
                toks.last match {
                  case Idx(i) if i >= 0 && i < arr.size() =>
                    arr.remove(i); mapper.writeValueAsString(root)
                  case _ => doc
                }
              case _ => doc
            }
        }
    }

  // ----------------------------------------------------------- transforms

  private[graft] def sortKeys(n: JsonNode): JsonNode =
    if (n.isObject) {
      val out = mapper.createObjectNode()
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      n.fieldNames().forEachRemaining(names += _)
      names.sorted.foreach(k => out.set[JsonNode](k, sortKeys(n.get(k))))
      out
    } else if (n.isArray) {
      val out = mapper.createArrayNode()
      n.forEach(e => out.add(sortKeys(e)))
      out
    } else n

  private def normNumbers(n: JsonNode): JsonNode =
    if (n.isObject) {
      val out = mapper.createObjectNode()
      n.fields().forEachRemaining(e => out.set[JsonNode](e.getKey, normNumbers(e.getValue)))
      out
    } else if (n.isArray) {
      val out = mapper.createArrayNode()
      n.forEach(e => out.add(normNumbers(e)))
      out
    } else if (n.isNumber) mapper.getNodeFactory.numberNode(n.asDouble())
    else n

  /** NiFi keep-arrays flatten: only OBJECTS are walked; arrays/scalars
    * stay opaque leaves under the dot-joined key (reference
    * function_jsonb_transform.cpp:93-108). Non-objects pass through. */
  private def flatten(n: JsonNode): JsonNode =
    if (!n.isObject) n
    else {
      val out = mapper.createObjectNode()
      def into(obj: JsonNode, prefix: String): Unit =
        obj.fields().forEachRemaining { e =>
          val k = if (prefix.isEmpty) e.getKey else prefix + "." + e.getKey
          if (e.getValue.isObject) into(e.getValue, k)
          else out.set[JsonNode](k, e.getValue)
        }
      into(n, "")
      out
    }

  /** MySQL json_search: LIKE-match STRING values; returns the path of
    * the first match ('one') or a JSON array of all paths ('all'). */
  private def search(doc: String, oneOrAll: String, pat: String): String = {
    if (doc == null || oneOrAll == null || pat == null) return null
    val root = parse(doc).getOrElse(return null)
    val rx = ("(?s)^" + pat.map {
      case '%' => ".*"
      case '_' => "."
      case c if "\\.[]{}()*+?^$|".contains(c) => "\\" + c
      case c => c.toString
    }.mkString + "$").r
    val hits = scala.collection.mutable.ArrayBuffer.empty[String]
    def visit(n: JsonNode, path: String): Unit = {
      if (n.isTextual && rx.findFirstIn(n.asText()).isDefined) hits += path
      else if (n.isObject)
        n.fields().forEachRemaining(e => visit(e.getValue, path + "." + e.getKey))
      else if (n.isArray)
        (0 until n.size()).foreach(i => visit(n.get(i), path + "[" + i + "]"))
    }
    visit(root, "$")
    val all = oneOrAll.equalsIgnoreCase("all")
    if (hits.isEmpty) null
    else if (!all || hits.size == 1) mapper.writeValueAsString(mapper.getNodeFactory.textNode(hits.head))
    else {
      val arr = mapper.createArrayNode()
      hits.foreach(p => arr.add(mapper.getNodeFactory.textNode(p)))
      mapper.writeValueAsString(arr)
    }
  }

  def udfs: Seq[(String, UserDefinedFunction)] = {
    val u = Seq.newBuilder[(String, UserDefinedFunction)]
    u += "json_set" -> udf((d: String, p: String, v: String) => mutate(d, p, v, 0))
    u += "json_insert" -> udf((d: String, p: String, v: String) => mutate(d, p, v, 1))
    u += "json_replace" -> udf((d: String, p: String, v: String) => mutate(d, p, v, 2))
    u += "json_remove" -> udf((d: String, p: String) => remove(d, p))
    u += "jsonb_set" -> udf((d: String, p: String, v: String) => mutate(d, p, v, 0))
    u += "jsonb_insert" -> udf((d: String, p: String, v: String) => mutate(d, p, v, 1))
    u += "jsonb_replace" -> udf((d: String, p: String, v: String) => mutate(d, p, v, 2))
    u += "json_valid" -> udf((d: String) =>
      if (d == null) null else java.lang.Boolean.valueOf(parse(d).isDefined))
    u += "jsonb_valid" -> udf((d: String) =>
      if (d == null) null else java.lang.Boolean.valueOf(parse(d).isDefined))
    // json_type(doc, path): reference arity + its lowercase typeName
    // table (jsonb_document.h:738 — int32-fitting integers are "int",
    // int64 "bigint", wider "largeint")
    def typeName(d: String, p: String): String = resolve(d, p).map { n =>
      if (n.isObject) "object"
      else if (n.isArray) "array"
      else if (n.isTextual) "string"
      else if (n.isIntegralNumber) {
        if (n.canConvertToInt) "int"
        else if (n.canConvertToLong) "bigint"
        else "largeint"
      } else if (n.isNumber) "double"
      else if (n.isBoolean) "bool"
      else "null"
    }.orNull
    u += "json_type" -> udf(typeName _)
    u += "jsonb_type" -> udf(typeName _)
    // number of object keys / array elements; 1 for scalars (MySQL/Doris)
    u += "json_length" -> udf((d: String) => parse(d).map { n =>
      if (n.isContainerNode) java.lang.Long.valueOf(n.size().toLong)
      else java.lang.Long.valueOf(1L)
    }.orNull)
    // json_quote: wrap a raw string as a JSON string literal (escapes);
    // json_unquote: parse a JSON string literal back (non-strings and
    // unparseable input pass through, MySQL-compatible)
    u += "json_quote" -> udf((s: String) =>
      if (s == null) null else mapper.writeValueAsString(mapper.getNodeFactory.textNode(s)))
    u += "json_unquote" -> udf((s: String) =>
      if (s == null) null
      else parse(s) match {
        case Some(n) if n.isTextual => n.asText()
        case _ => s
      })
    // ---- extraction (jsonb_extract + typed variants, get_json_* legacy)
    def extract(d: String, p: String): String =
      resolve(d, p).map(mapper.writeValueAsString).orNull
    u += "json_extract" -> udf(extract _)
    u += "jsonb_extract" -> udf(extract _)
    def exStr(d: String, p: String): String =
      resolve(d, p).map(n => if (n.isTextual) n.asText() else mapper.writeValueAsString(n)).orNull
    u += "json_extract_string" -> udf(exStr _)
    u += "jsonb_extract_string" -> udf(exStr _)
    u += "json_extract_no_quotes" -> udf(exStr _)
    u += "get_json_string" -> udf(exStr _)
    def exInt(d: String, p: String): Integer =
      resolve(d, p).collect { case n if n.isIntegralNumber && n.canConvertToInt =>
        java.lang.Integer.valueOf(n.asInt()) }.orNull
    u += "json_extract_int" -> udf(exInt _)
    u += "jsonb_extract_int" -> udf(exInt _)
    u += "get_json_int" -> udf(exInt _)
    def exBig(d: String, p: String): java.lang.Long =
      resolve(d, p).collect { case n if n.isIntegralNumber && n.canConvertToLong =>
        java.lang.Long.valueOf(n.asLong()) }.orNull
    u += "json_extract_bigint" -> udf(exBig _)
    u += "jsonb_extract_bigint" -> udf(exBig _)
    u += "get_json_bigint" -> udf(exBig _)
    // largeint exceeds Long — surfaced as its decimal string (documented
    // LARGEINT policy, SURVEY §7.4)
    def exLarge(d: String, p: String): String =
      resolve(d, p).collect { case n if n.isIntegralNumber => n.bigIntegerValue().toString }.orNull
    u += "json_extract_largeint" -> udf(exLarge _)
    u += "jsonb_extract_largeint" -> udf(exLarge _)
    def exDouble(d: String, p: String): java.lang.Double =
      resolve(d, p).collect { case n if n.isNumber => java.lang.Double.valueOf(n.asDouble()) }.orNull
    u += "json_extract_double" -> udf(exDouble _)
    u += "jsonb_extract_double" -> udf(exDouble _)
    u += "get_json_double" -> udf(exDouble _)
    def exBool(d: String, p: String): java.lang.Boolean =
      resolve(d, p).collect { case n if n.isBoolean => java.lang.Boolean.valueOf(n.asBoolean()) }.orNull
    u += "json_extract_bool" -> udf(exBool _)
    u += "jsonb_extract_bool" -> udf(exBool _)
    def exIsNull(d: String, p: String): java.lang.Boolean =
      resolve(d, p).map(n => java.lang.Boolean.valueOf(n.isNull)).orNull
    u += "json_extract_isnull" -> udf(exIsNull _)
    u += "jsonb_extract_isnull" -> udf(exIsNull _)
    // ---- parse family (jsonb_parse error modes)
    def parseStrict(s: String): String =
      if (s == null) null
      else parse(s).map(mapper.writeValueAsString)
        .getOrElse(throw new IllegalArgumentException(s"invalid json: $s"))
    u += "json_parse" -> udf(parseStrict _)
    u += "jsonb_parse" -> udf(parseStrict _)
    def parseOrNull(s: String): String =
      if (s == null) null else parse(s).map(mapper.writeValueAsString).orNull
    u += "json_parse_error_to_null" -> udf(parseOrNull _)
    u += "jsonb_parse_error_to_null" -> udf(parseOrNull _)
    def parseOrValue(s: String, dflt: String): String =
      if (s == null) null
      else parse(s).map(mapper.writeValueAsString)
        .getOrElse(parse(dflt).map(mapper.writeValueAsString).orNull)
    u += "json_parse_error_to_value" -> udf(parseOrValue _)
    u += "jsonb_parse_error_to_value" -> udf(parseOrValue _)
    // ---- transforms (function_jsonb_transform.cpp)
    def doSort(s: String): String =
      parse(s).map(n => mapper.writeValueAsString(sortKeys(n))).orNull
    u += "sort_json_object_keys" -> udf(doSort _)
    u += "sort_jsonb_object_keys" -> udf(doSort _)
    def doNorm(s: String): String =
      parse(s).map(n => mapper.writeValueAsString(normNumbers(n))).orNull
    u += "normalize_json_numbers_to_double" -> udf(doNorm _)
    u += "normalize_jsonb_numbers_to_double" -> udf(doNorm _)
    u += "json_object_flatten" -> udf((s: String) =>
      parse(s).map(n => mapper.writeValueAsString(flatten(n))).orNull)
    u += "json_search" -> udf(search _)
    // json_contains(doc, candidate): MySQL containment — objects contain
    // a candidate object when every candidate key/value is contained;
    // arrays contain scalars/objects that match any element; scalars
    // must be equal
    def contains(target: JsonNode, cand: JsonNode): Boolean = {
      if (target.isObject && cand.isObject) {
        val it = cand.fields()
        var ok = true
        while (ok && it.hasNext) {
          val e = it.next()
          ok = target.has(e.getKey) && contains(target.get(e.getKey), e.getValue)
        }
        ok
      } else if (target.isArray) {
        if (cand.isArray) {
          val it = cand.elements()
          var ok = true
          while (ok && it.hasNext) {
            val c = it.next()
            var found = false
            val te = target.elements()
            while (!found && te.hasNext) found = contains(te.next(), c)
            ok = found
          }
          ok
        } else {
          var found = false
          val te = target.elements()
          while (!found && te.hasNext) found = contains(te.next(), cand)
          found
        }
      } else target == cand
    }
    u += "json_contains" -> udf((d: String, c: String) =>
      (parse(d), parse(c)) match {
        case (Some(t), Some(cn)) => java.lang.Boolean.valueOf(contains(t, cn))
        case _ => null
      })
    def existsPath(d: String, p: String): java.lang.Boolean =
      parse(d).map(root => java.lang.Boolean.valueOf(
        tokenize(p).exists(toks => walk(root, toks).nonEmpty))).orNull
    u += "json_exists_path" -> udf(existsPath _)
    u += "jsonb_exists_path" -> udf(existsPath _)
    // json_keys(doc): JSON array of the root object's keys (insertion
    // order, MySQL-compatible); non-objects -> NULL
    def keysOf(d: String): String = parse(d).collect {
      case n if n.isObject =>
        val arr = mapper.createArrayNode()
        n.fieldNames().forEachRemaining(k => arr.add(mapper.getNodeFactory.textNode(k)))
        mapper.writeValueAsString(arr)
    }.orNull
    u += "json_keys" -> udf(keysOf _)
    u += "jsonb_keys" -> udf(keysOf _)
    // strip_null_value: drop null-valued keys of the root object
    u += "strip_null_value" -> udf((d: String) => parse(d).map { n =>
      if (!n.isObject) mapper.writeValueAsString(n)
      else {
        val out = mapper.createObjectNode()
        n.fields().forEachRemaining { e =>
          if (!e.getValue.isNull) out.set[JsonNode](e.getKey, e.getValue)
        }
        mapper.writeValueAsString(out)
      }
    }.orNull)
    u.result()
  }
}

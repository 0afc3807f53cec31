package graft.repair

import scala.collection.mutable

/** The malformed-JSON repair engine: a fresh Scala implementation of the
  * behavior of mangiucugna/json_repair's recursive-descent repair parser
  * (src/json_repair/json_parser.py, parse_object.py, parse_array.py,
  * parse_string.py, parse_number.py, parse_comment.py,
  * parser_parenthesized.py — semantics studied from those files and the
  * pytest corpus; see SURVEY.md §2 for the operator-by-operator map).
  *
  * `strict = true` turns heuristics into [[RepairParser.StrictError]]s — the
  * validator mode (reference strict mode, json_parser.py:88-91).
  */
object RepairParser {
  final class StrictError(msg: String) extends RuntimeException(msg)

  sealed trait Ctx
  case object CtxKey extends Ctx
  case object CtxValue extends Ctx
  case object CtxArr extends Ctx

  val NUL: Char = '\u0000'
  private val StringDelims = "\"'“”" // " ' “ ”
  private val LowSmartQuote = '„' // „
  private val HighSmartOpen = '“'
  private val HighSmartClose = '”'

  def isDelim(c: Char): Boolean = StringDelims.indexOf(c) >= 0

  def isSpace(c: Char): Boolean =
    c != NUL && (Character.isWhitespace(c) || Character.isSpaceChar(c))

  private val NumberChars = "0123456789-.eE/,_"

  def repairToValue(input: CharSequence, strict: Boolean = false,
      tryValidJsonSuffix: Boolean = true, streamStable: Boolean = false): JsonValue =
    new RepairParser(input, strict, tryValidJsonSuffix, streamStable).parse()

  /** One repair-log record: the action text + a ±10-char context window
    * (the reference's `_log`, json_parser.py:338-348). */
  final case class LogEntry(text: String, context: String)
}

final class RepairParser(input: CharSequence, strict: Boolean, tryValidJsonSuffix: Boolean,
    streamStable: Boolean = false,
    val logger: Option[mutable.Buffer[RepairParser.LogEntry]] = None) {
  import RepairParser._

  /** Reference `_log`: message + ±10-char context window around the cursor.
    * No-op when logging is off (the reference swaps in a noop lambda;
    * here the Option check is the guard). */
  private def log(text: String): Unit = logger.foreach { buf =>
    // clamped like a Python slice: a cursor more than 10 chars past the end
    // gives an empty window, not start > end
    val end = math.min(index + 10, s.length)
    val start = math.min(math.max(index - 10, 0), end)
    buf += LogEntry(text, sub(start, end))
  }

  // CharSequence, not String: a windowed ChunkedFileReader (the reference's
  // StringFileWrapper analogue) parses lazily through the same code path;
  // the two splice repairs below materialize to String, as the reference's
  // json_str slicing does on a file wrapper.
  private var s: CharSequence = input // mutated by two repairs (splice/normalize)

  /** String copy of s[a, b) — the CharSequence-safe substring. */
  private def sub(a: Int, b: Int): String = s.subSequence(a, b).toString
  private def sub(a: Int): String = sub(a, s.length)
  private var index: Int = 0
  private val context = mutable.ArrayBuffer.empty[Ctx]
  private val deferredContexts = mutable.ArrayBuffer.empty[Ctx]
  private var hasTriedSuffix = false
  private var schemaRepairer: Option[SchemaRepairer] = None

  private def ctxCurrent: Ctx = if (context.isEmpty) null else context.last
  private def ctxEmpty: Boolean = context.isEmpty
  private def ctxHas(c: Ctx): Boolean = context.contains(c)
  private def ctxSet(c: Ctx): Unit = context += c
  private def ctxReset(): Unit = if (context.nonEmpty) context.remove(context.length - 1)

  private def at(off: Int = 0): Char = {
    val i = index + off
    if (i >= 0 && i < s.length) s.charAt(i) else NUL
  }

  private def skipWhitespaces(): Unit =
    while (index < s.length && isSpace(s.charAt(index))) index += 1

  private def scrollWhitespaces(idx: Int = 0): Int = {
    var i = idx
    while (index + i < s.length && isSpace(s.charAt(index + i))) i += 1
    i
  }

  /** Offset from index to the next unescaped target char (or to end). */
  private def skipToCharacter(targets: String, idx: Int = 0): Int = {
    var i = index + idx
    val n = s.length
    var backslashes = 0
    while (i < n) {
      val ch = s.charAt(i)
      if (ch == '\\') { backslashes += 1; i += 1 }
      else {
        if (targets.indexOf(ch) >= 0 && backslashes % 2 == 0) return i - index
        backslashes = 0
        i += 1
      }
    }
    n - index
  }

  private def strictErr(msg: String): Nothing = throw new StrictError(msg)

  // ---- top level ----------------------------------------------------------

  def parse(): JsonValue = parseTopLevel(() => parseJson())

  /** Reference `parse_with_schema` (json_parser.py:101-108): thread the
    * schema + JSONPath through every recursive parse call so repairs can
    * consult it mid-parse (empty-object reinterpretation, missing-value
    * fills, property drops). */
  def parseWithSchema(repairer: SchemaRepairer, schema: JsonValue): JsonValue = {
    schemaRepairer = Some(repairer)
    parseTopLevel(() => parseJson(schema, "$"))
  }

  private def parseTopLevel(parseElement: () => JsonValue): JsonValue = {
    var json = parseElement()
    if (index < s.length) {
      log("The parser returned early, checking if there's more json elements")
      val acc = mutable.ArrayBuffer[JsonValue](json)
      while (index < s.length) {
        context.clear()
        deferredContexts.clear()
        val isCommaSeparated = nextTopLevelValueIsCommaSeparated()
        val elementStart = index
        val j = parseElement()
        if (strict && index > elementStart)
          strictErr("Multiple top-level JSON elements found in strict mode.")
        if (j.isTruthy) {
          if (!isCommaSeparated && JsonValue.sameShape(acc.last, j))
            acc.remove(acc.length - 1)
          else if (!acc.last.isTruthy)
            acc.remove(acc.length - 1)
          acc += j
        } else index += 1
      }
      json =
        if (acc.length == 1) {
          log("There were no more elements, returning the element without the array")
          acc.head
        } else JArr(acc)
    }
    json
  }

  private def nextTopLevelValueIsCommaSeparated(): Boolean = {
    val idx = scrollWhitespaces()
    if (at(idx) == ',') return true
    var i = index - 1
    while (i >= 0 && isSpace(s.charAt(i))) i -= 1
    i >= 0 && s.charAt(i) == ','
  }

  private def tryParseValidJsonValue(): Option[JsonValue] = {
    if (!tryValidJsonSuffix || hasTriedSuffix || !ctxEmpty || index == 0) return None
    hasTriedSuffix = true
    PyJson.rawDecode(s, index) match {
      case Some((v, end)) => index = end; Some(v)
      case None => None
    }
  }

  // ---- dispatcher ---------------------------------------------------------

  /** Resolve the active repairer + schema for this parse node (reference
    * `_resolve_schema_for_parse`). Returns (repairerOpt, resolvedSchema). */
  private def resolveSchemaForParse(schema: JsonValue): (Option[SchemaRepairer], JsonValue) = {
    val active = if (schemaRepairer.isDefined && schema != null && schema != JBool(true))
      schemaRepairer else None
    active match {
      case None => (None, schema)
      case Some(r) =>
        r.resolveSchema(schema) match {
          case JBool(true) => (None, JBool(true))
          case JBool(false) =>
            throw new SchemaRepair.RepairError("Schema does not allow any values.")
          case resolved => (Some(r), resolved)
        }
    }
  }

  private def finalizeParsedValue(value: JsonValue, repairer: Option[SchemaRepairer],
      schema: JsonValue, path: String): JsonValue =
    repairer match {
      case None => value
      case Some(r) => r.repairValue(Some(value), schema, path)
    }

  private def parseJson(schema0: JsonValue = null, path: String = "$"): JsonValue = {
    if (deferredContexts.nonEmpty) {
      val deferred = deferredContexts.toList
      deferredContexts.clear()
      deferred.foreach(ctxSet)
      try return parseJson(schema0, path)
      finally deferred.foreach(_ => ctxReset())
    }
    val (repairer, schema) = resolveSchemaForParse(schema0)
    while (true) {
      val char = at()
      if (char == NUL) return JStr("")
      if (tryValidJsonSuffix && (char == '{' || char == '[')) {
        tryParseValidJsonValue() match {
          case Some(v) => return finalizeParsedValue(v, repairer, schema, path)
          case None =>
        }
      }
      if (char == '{') {
        index += 1
        val v = if (repairer.isDefined) parseObject(schema, path) else parseObject()
        return finalizeParsedValue(v, repairer, schema, path)
      }
      if (char == '[') {
        index += 1
        val v = if (repairer.isDefined) parseArray(schema, path) else parseArray()
        return finalizeParsedValue(v, repairer, schema, path)
      }
      if (char == '(') {
        if (!ctxEmpty || topLevelParenthesizedCanStartValue()) {
          val v = if (repairer.isDefined) parseParenthesized(schema, path) else parseParenthesized()
          return finalizeParsedValue(v, repairer, schema, path)
        }
        index += 1
      } else if (!ctxEmpty && (isDelim(char) || Character.isLetter(char))) {
        return finalizeParsedValue(parseString(), repairer, schema, path)
      } else if (!ctxEmpty && (Character.isDigit(char) || char == '-' || char == '.')) {
        return finalizeParsedValue(parseNumber(), repairer, schema, path)
      } else if (char == '#' || char == '/') {
        return finalizeParsedValue(parseComment(), repairer, schema, path)
      } else index += 1
    }
    JStr("")
  }

  // ---- object -------------------------------------------------------------

  /** Reference `resolve_parser_object_schema`: active only when the node
    * schema is an object schema. */
  private def resolveParserObjectSchema(schema: JsonValue)
      : (Option[SchemaRepairer], JsonValue, Option[SchemaRepair.ObjectConfig]) =
    schemaRepairer match {
      case Some(r) if schema != null && schema != JBool(true) =>
        r.resolveSchema(schema) match {
          case JBool(false) =>
            throw new SchemaRepair.RepairError("Schema does not allow any values.")
          case JBool(true) => (None, JBool(true), None)
          case resolved if !r.isObjectSchema(resolved) => (None, resolved, None)
          case resolved => (Some(r), resolved, Some(r.objectConfig(resolved)))
        }
      case _ => (None, schema, None)
    }

  /** Reference `_resolve_object_property_schema`: (propSchema, extras, drop). */
  private def resolveObjectPropertySchema(
      repairer: Option[SchemaRepairer],
      config: Option[SchemaRepair.ObjectConfig],
      key: String): (JsonValue, Seq[JsonValue], Boolean) =
    (repairer, config) match {
      case (Some(_), Some(cfg)) =>
        if (cfg.properties.contains(key)) (cfg.properties(key), Seq.empty, false)
        else {
          val matched =
            if (cfg.patternProperties.nonEmpty)
              SchemaRepair.matchPatternProperties(cfg.patternProperties, key)
            else Seq.empty
          if (matched.nonEmpty) (matched.head, matched.tail, false)
          else cfg.additionalProperties match {
            case Some(JBool(false)) => (null, Seq.empty, true)
            case Some(o: JObj) => (o, Seq.empty, false)
            case _ => (JBool(true), Seq.empty, false)
          }
        }
      case _ => (null, Seq.empty, false)
    }

  /** Reference `_finalize_object`: required raise (standard) + defaults. */
  private def finalizeObject(
      obj: mutable.LinkedHashMap[String, JsonValue],
      repairer: Option[SchemaRepairer],
      config: Option[SchemaRepair.ObjectConfig],
      path: String): Unit =
    (repairer, config) match {
      case (Some(r), Some(cfg)) =>
        val missing = cfg.required.filterNot(obj.contains)
        if (missing.nonEmpty && !r.isSalvage)
          throw new SchemaRepair.RepairError(
            s"Missing required properties at $path: ${missing.mkString(", ")}")
        cfg.properties.foreach { case (key, propSchema) =>
          if (!obj.contains(key) && !cfg.required.contains(key)) {
            propSchema match {
              case JObj(pf) if pf.contains("default") =>
                obj(key) = SchemaRepair.deepCopy(pf("default"))
              case _ =>
            }
          }
        }
      case _ =>
    }

  private def parseObject(schema0: JsonValue = null, path: String = "$"): JsonValue = {
    val obj = mutable.LinkedHashMap.empty[String, JsonValue]
    val startIndex = index
    val parsingObjectValue = ctxCurrent == CtxValue
    val (repairer, schema, config) = resolveParserObjectSchema(schema0)

    var break = false
    while (!break && (if (at() == NUL) '}' else at()) != '}') {
      skipWhitespaces()
      if (at() == ':') {
        log("While parsing an object we found a : before a key, ignoring")
        index += 1
      }

      val (key, rollbackIndex) = parseObjectKey(obj)
      if (ctxHas(CtxArr) && obj.contains(key)) {
        if (strict) strictErr("Duplicate key found in strict mode while parsing object.")
        if (!parsingObjectValue) {
          if (shouldSplitDuplicateObject(rollbackIndex)) {
            log("While parsing an object we found a duplicate key, closing the object here and rolling back the index")
            // close the object here and splice a '{' back into the input
            index = rollbackIndex - 1
            s = sub(0, index + 1) + "{" + sub(index + 1)
            break = true
          } else {
            log("While parsing an object we found a duplicate key with a normal comma separator, keeping duplicate-key overwrite behavior")
          }
        }
      }

      if (!break) {
        skipWhitespaces()
        val closing = (if (at() == NUL) '}' else at()) == '}'
        if (!closing) {
          skipWhitespaces()
          if (at() != ':') {
            if (strict) strictErr("Missing ':' after key in strict mode while parsing object.")
            log("While parsing an object we missed a : after a key")
          }
          index += 1
          val (propSchema, extraSchemas, dropProperty) =
            resolveObjectPropertySchema(repairer, config, key)
          val keyPath = s"$path.$key"
          var value = parseObjectValue(repairer, propSchema, keyPath)

          repairer.foreach { r =>
            extraSchemas.foreach(es => value = r.repairValue(Some(value), es, keyPath))
          }

          if (repairer.isEmpty && value == JStr("") && strict && !isDelim(at(-1)))
            strictErr("Parsed value is empty in strict mode while parsing object.")

          if (repairer.isEmpty || !dropProperty) obj(key) = value

          val c = at()
          if (c == ',' || c == '\'' || c == '"') index += 1
          if (at() == ']' && ctxHas(CtxArr)) {
            log("While parsing an object we found a closing array bracket, closing the object here and rolling back the index")
            index -= 1
            break = true
          }
          if (!break) skipWhitespaces()
        }
      }
    }
    index += 1

    repairEmptyObjectResult(obj, startIndex, schema, path, repairer) match {
      case Some(repaired) => return repaired
      case None =>
    }
    completeObjectParse(obj, schema, path, repairer, config)
  }

  private def parseObjectKey(obj: mutable.LinkedHashMap[String, JsonValue]): (String, Int) = {
    var key = ""
    var rollbackIndex = index
    ctxSet(CtxKey)
    try {
      var done = false
      while (!done && at() != NUL) {
        rollbackIndex = index
        if (at() == '[' && key == "" && mergeObjectArrayContinuation(obj)) {
          // merged a stray array continuation; retry key parse
        } else {
          key = stringOf(parseString())
          if (key == "") skipWhitespaces()
          if (key != "" || (key == "" && (at() == ':' || at() == '}'))) {
            if (key == "" && strict)
              strictErr("Empty key found in strict mode while parsing object.")
            done = true
          }
        }
      }
    } finally ctxReset()
    (key, rollbackIndex)
  }

  private def stringOf(v: JsonValue): String = v match {
    case JStr(x) => x
    case JBool(true) => "true"
    case JBool(false) => "false"
    case JNull => "null"
    case JInt(i) => i.toString
    case JFloat(d) => PyJson.floatRepr(d)
    case _ => ""
  }

  private def shouldSplitDuplicateObject(rollbackIndex: Int): Boolean = {
    var i = rollbackIndex - 1
    while (i >= 0 && i < s.length && isSpace(s.charAt(i))) i -= 1
    val prevNonWs = if (i >= 0 && i < s.length) s.charAt(i) else NUL
    val keyStartChar = if (rollbackIndex < s.length) s.charAt(rollbackIndex) else NUL
    val nextNonWs = at(scrollWhitespaces())
    !(isDelim(keyStartChar) && prevNonWs == ',' && nextNonWs == ':')
  }

  private def mergeObjectArrayContinuation(obj: mutable.LinkedHashMap[String, JsonValue]): Boolean = {
    val prevKeyOpt = obj.lastOption.map(_._1)
    val ok = prevKeyOpt.exists(k => obj(k).isInstanceOf[JArr]) && !strict
    if (!ok) return false
    val prevKey = prevKeyOpt.get
    index += 1
    val newArray = parseArray()
    (obj(prevKey), newArray) match {
      case (JArr(prevValue), JArr(newItems)) =>
        val listLengths = prevValue.collect { case JArr(inner) => inner.length }
        val expectedLen: Option[Int] =
          if (listLengths.nonEmpty && listLengths.forall(_ == listLengths.head) && listLengths.head != 0)
            Some(listLengths.head)
          else None
        expectedLen match {
          case Some(el) =>
            val tail = mutable.ArrayBuffer.empty[JsonValue]
            while (prevValue.nonEmpty && !prevValue.last.isInstanceOf[JArr]) {
              tail += prevValue.remove(prevValue.length - 1)
            }
            if (tail.nonEmpty) {
              val t = tail.reverse
              if (t.length % el == 0) {
                log("While parsing an object we found row values without an inner array, grouping them into rows")
                t.grouped(el).foreach(g => prevValue += JArr(mutable.ArrayBuffer(g.toSeq: _*)))
              } else prevValue ++= t
            }
            if (newItems.nonEmpty) {
              if (newItems.forall(_.isInstanceOf[JArr])) {
                log("While parsing an object we found additional rows, appending them without flattening")
                prevValue ++= newItems
              } else prevValue += JArr(newItems)
            }
          case None =>
            if (newItems.length == 1 && newItems.head.isInstanceOf[JArr])
              prevValue ++= newItems.head.asInstanceOf[JArr].items
            else prevValue ++= newItems
        }
      case _ =>
    }
    skipWhitespaces()
    if (at() == ',') index += 1
    skipWhitespaces()
    true
  }

  private def parseObjectValue(repairer: Option[SchemaRepairer],
      propSchema: JsonValue, keyPath: String): JsonValue = {
    ctxSet(CtxValue)
    try {
      skipWhitespaces()
      val c = at()
      if (c == ',' || c == '}') {
        log(s"While parsing an object value we found a stray $c, ignoring it")
        repairer match {
          case Some(r) => r.repairValue(None, propSchema, keyPath) // MISSING_VALUE fill
          case None => JStr("")
        }
      } else repairer match {
        case Some(_) => parseJson(propSchema, keyPath)
        case None => parseJson()
      }
    } finally ctxReset()
  }

  private def repairEmptyObjectResult(
      obj: mutable.LinkedHashMap[String, JsonValue], startIndex: Int,
      schema: JsonValue, path: String,
      repairer: Option[SchemaRepairer]): Option[JsonValue] = {
    if (obj.nonEmpty || index - startIndex <= 2) return None
    if (strict)
      strictErr("Parsed object is empty but contains extra characters in strict mode.")

    classifyEmptyObjectRepair(startIndex, schema, repairer) match {
      case ("object", Some(normalized)) =>
        log("Parsed object is empty but the input starts like an escaped object key, normalizing and reparsing it as an object")
        val endIndex = index + 1
        s = sub(0, startIndex - 1) + normalized +
          (if (endIndex <= s.length) sub(endIndex) else "")
        index = startIndex
        ctxSet(CtxKey)
        val repaired = try parseObject(schema, path) finally ctxReset()
        deferredContexts += CtxKey
        Some(repaired)
      case ("schema_set_object", _) =>
        log("Parsed object is empty but salvage schema expects an object, reparsing set-like members as null-valued object keys")
        index = startIndex
        ctxSet(CtxKey)
        val setItems = try parseArray() finally ctxReset()
        deferredContexts += CtxKey
        val keys = setItems.items.collect { case JStr(k) if k.nonEmpty => k }
        if (keys.length == setItems.items.length)
          Some(JObj(mutable.LinkedHashMap(keys.map(k => k -> (JNull: JsonValue)).toSeq: _*)))
        else Some(setItems)
      case ("array", _) =>
        log("Parsed object is empty, we will try to parse this as an array instead")
        index = startIndex
        ctxSet(CtxKey)
        val repaired = try parseArray() finally ctxReset()
        deferredContexts += CtxKey
        Some(repaired)
      case _ => None
    }
  }

  /** ("keep" | "object" | "schema_set_object" | "array", normalizedText?) */
  private def classifyEmptyObjectRepair(startIndex: Int, schema: JsonValue,
      repairer: Option[SchemaRepairer]): (String, Option[String]) = {
    val attempted = sub(math.max(0, startIndex - 1), math.min(s.length, index + 1))
    var body = attempted.drop(1)
    if (body.endsWith("}")) body = body.dropRight(1)
    body = body.dropWhile(isSpace)
    if (body.isEmpty) return ("keep", None)
    if ((body.startsWith("\\\"") && body.contains("\\\":")) ||
        (body.startsWith("\\'") && body.contains("\\':"))) {
      val normalized = attempted.replace("\\\"", "\"").replace("\\'", "'")
      return ("object", Some(normalized))
    }
    body = stripCommentsForClassification(body).dropWhile(isSpace)
    if (body.isEmpty) return ("keep", None)
    var inQuote: Char = NUL
    var backslashes = 0
    body.foreach { ch =>
      if (ch == '\\') backslashes += 1
      else {
        if (inQuote != NUL) {
          if (ch == inQuote && backslashes % 2 == 0) inQuote = NUL
        } else if (isDelim(ch) && backslashes % 2 == 0) inQuote = ch
        else if (ch == ':' && backslashes % 2 == 0) {
          log("Parsed object is empty but the input still contains an object-style separator, keeping object repair")
          return ("keep", None)
        }
        backslashes = 0
      }
    }
    repairer match {
      case Some(r) if r.isSalvage && schema.isInstanceOf[JObj] &&
          r.isObjectSchema(schema) && !r.isArraySchema(schema) =>
        ("schema_set_object", None)
      case _ => ("array", None)
    }
  }

  private def stripCommentsForClassification(body: String): String = {
    val out = new StringBuilder
    var inQuote: Char = NUL
    var backslashes = 0
    var i = 0
    while (i < body.length) {
      val ch = body.charAt(i)
      val next = if (i + 1 < body.length) body.charAt(i + 1) else NUL
      if (ch == '\\') { backslashes += 1; out.append(ch); i += 1 }
      else if (inQuote != NUL) {
        out.append(ch)
        if (ch == inQuote && backslashes % 2 == 0) inQuote = NUL
        backslashes = 0
        i += 1
      } else if (isDelim(ch) && backslashes % 2 == 0) {
        inQuote = ch; out.append(ch); backslashes = 0; i += 1
      } else {
        backslashes = 0
        if (ch == '#' || (ch == '/' && next == '/')) {
          i += (if (ch == '/') 2 else 1)
          while (i < body.length && body.charAt(i) != '\n' && body.charAt(i) != '\r') i += 1
        } else if (ch == '/' && next == '*') {
          i += 2
          while (i < body.length - 1 && body.substring(i, i + 2) != "*/") i += 1
          i = math.min(i + 2, body.length)
        } else { out.append(ch); i += 1 }
      }
    }
    out.toString
  }

  private def completeObjectParse(obj: mutable.LinkedHashMap[String, JsonValue],
      schema: JsonValue, path: String,
      repairer: Option[SchemaRepairer],
      config: Option[SchemaRepair.ObjectConfig]): JsonValue = {
    if (!ctxEmpty) {
      if (at() == '}' && ctxCurrent != CtxKey && ctxCurrent != CtxValue) {
        log("Found an extra closing brace that shouldn't be there, skipping it")
        index += 1
      }
      return JObj(obj)
    }
    skipWhitespaces()
    if (at() == ',') {
      index += 1
      skipWhitespaces()
      if (isDelim(at()) && !strict) {
        log("Found a comma and string delimiter after object closing brace, checking for additional key-value pairs")
        parseObject(schema, path) match {
          case JObj(additional) => additional.foreach { case (k, v) => obj(k) = v }
          case _ =>
        }
      }
    }
    finalizeObject(obj, repairer, config, path)
    JObj(obj)
  }

  // ---- array --------------------------------------------------------------

  /** Reference `resolve_parser_array_schema` + `_resolve_array_item_schema`. */
  private def resolveParserArraySchema(schema: JsonValue)
      : (Option[SchemaRepairer], Option[SchemaRepair.ArrayConfig]) =
    schemaRepairer match {
      case Some(r) if schema != null && schema != JBool(true) =>
        r.resolveSchema(schema) match {
          case JBool(false) =>
            throw new SchemaRepair.RepairError("Schema does not allow any values.")
          case JBool(true) => (None, None)
          case resolved if !r.isArraySchema(resolved) => (None, None)
          case resolved => (Some(r), Some(r.arrayConfig(resolved)))
        }
      case _ => (None, None)
    }

  private def resolveArrayItemSchema(config: Option[SchemaRepair.ArrayConfig],
      idx: Int): (JsonValue, Boolean) = config match {
    case None => (null, false)
    case Some(cfg) => cfg.itemsSchema match {
      case Some(JArr(pos)) =>
        if (idx < pos.length) (pos(idx), false)
        else cfg.additionalItems match {
          case Some(JBool(false)) => (null, true)
          case Some(o: JObj) => (o, false)
          case _ => (JBool(true), false)
        }
      case Some(o: JObj) => (o, false)
      case _ => (JBool(true), false)
    }
  }

  private def parseArray(schema0: JsonValue = null, path: String = "$",
      closingDelimiter: Char = ']'): JArr = {
    val (repairer, config) = resolveParserArraySchema(schema0)
    val salvageMode = repairer.exists(_.isSalvage)
    val arr = mutable.ArrayBuffer.empty[JsonValue]
    ctxSet(CtxArr)
    try {
      skipWhitespaces()
      var char = at()
      var idx = 0
      while (char != NUL && char != closingDelimiter && char != '}') {
        val (itemSchema, dropItem) = resolveArrayItemSchema(config, idx)
        val itemPath = s"$path[$idx]"
        val active: Option[SchemaRepairer] =
          if (repairer.isDefined && !dropItem && !salvageMode) repairer else None
        var value: JsonValue = JNull
        if (isDelim(char)) {
          // A string followed by ':' is often a missing object start
          var i = 1
          i = skipToCharacter(char.toString, i)
          i = scrollWhitespaces(i + 1)
          if (at(i) == ':') {
            active match {
              case Some(r) =>
                value = parseObject(itemSchema, itemPath)
                value = r.repairValue(Some(value), itemSchema, itemPath)
              case None =>
                value = parseObject()
            }
          } else {
            value = parseString()
            active.foreach(r => value = r.repairValue(Some(value), itemSchema, itemPath))
          }
        } else {
          value = active match {
            case Some(_) => parseJson(itemSchema, itemPath)
            case None => parseJson()
          }
        }
        if (value.isStrictlyEmpty && at() != closingDelimiter && at() != ',') {
          index += 1
        } else if (value == JStr("...") && at(-1) == '.') {
          log("While parsing an array, found a stray '...'; ignoring it")
        } else if (!dropItem) {
          arr += value
        }
        idx += 1
        char = at()
        while (char != NUL && char != closingDelimiter && (isSpace(char) || char == ',')) {
          index += 1
          char = at()
        }
      }
      if (char != closingDelimiter)
        log(s"While parsing an array we missed the closing $closingDelimiter, ignoring it")
      index += 1
      JArr(arr)
    } finally ctxReset()
  }

  // ---- parenthesized ------------------------------------------------------

  private def parseParenthesized(schema: JsonValue = null, path: String = "$"): JsonValue = {
    val explicitTuple = parenthesizedIsExplicitTuple()
    index += 1
    val values = parseArray(schema, path, ')')
    if (explicitTuple || values.items.length != 1) values else values.items.head
  }

  private def parenthesizedIsExplicitTuple(): Boolean = {
    var i = index + 1
    val n = s.length
    var parens = 0; var squares = 0; var braces = 0
    var inQuote: Char = NUL
    var backslashes = 0
    var sawContent = false
    while (i < n) {
      val ch = s.charAt(i)
      if (ch == '\\') { backslashes += 1; i += 1 }
      else if (inQuote != NUL) {
        if (ch == inQuote && backslashes % 2 == 0) inQuote = NUL
        backslashes = 0; i += 1
      } else if (isDelim(ch) && backslashes % 2 == 0) {
        inQuote = ch
        if (parens == 0 && squares == 0 && braces == 0) sawContent = true
        backslashes = 0; i += 1
      } else {
        backslashes = 0
        if (!isSpace(ch) && ch != ',' && ch != ')' && parens == 0 && squares == 0 && braces == 0)
          sawContent = true
        ch match {
          case '(' => parens += 1
          case ')' =>
            if (parens == 0 && squares == 0 && braces == 0) return !sawContent
            if (parens > 0) parens -= 1
          case '[' => squares += 1
          case ']' => if (squares > 0) squares -= 1
          case '{' => braces += 1
          case '}' => if (braces > 0) braces -= 1
          case ',' => if (parens == 0 && squares == 0 && braces == 0) return true
          case _ =>
        }
        i += 1
      }
    }
    !sawContent
  }

  private def topLevelParenthesizedCanStartValue(): Boolean = {
    var i = index - 1
    var ok = true
    while (i >= 0 && ok) {
      val ch = s.charAt(i)
      if (ch == '\n' || ch == '\r') i = -1
      else if (!isSpace(ch)) return false
      else i -= 1
    }
    val idx = scrollWhitespaces(1)
    val first = at(idx)
    if (first == NUL) return false
    val lit4 = if (index + idx + 4 <= s.length) sub(index + idx, index + idx + 4) else ""
    val lit5 = if (index + idx + 5 <= s.length) sub(index + idx, index + idx + 5) else ""
    if (first != ')' && first != '{' && first != '[' && first != '(' && !isDelim(first) &&
        !Character.isDigit(first) && first != '-' && first != '.' &&
        lit4 != "true" && lit4 != "null" && lit5 != "false") return false

    var j = index + 1
    val n = s.length
    var parens = 0; var squares = 0; var braces = 0
    var inQuote: Char = NUL
    var backslashes = 0
    while (j < n) {
      val ch = s.charAt(j)
      if (ch == '\\') { backslashes += 1; j += 1 }
      else if (inQuote != NUL) {
        if (ch == inQuote && backslashes % 2 == 0) inQuote = NUL
        backslashes = 0; j += 1
      } else if (isDelim(ch) && backslashes % 2 == 0) {
        inQuote = ch; backslashes = 0; j += 1
      } else {
        backslashes = 0
        ch match {
          case '(' => parens += 1
          case ')' =>
            if (parens == 0 && squares == 0 && braces == 0) {
              var k = j + 1
              while (k < n) {
                val trailer = s.charAt(k)
                if (trailer == '\n' || trailer == '\r') return true
                if (!isSpace(trailer)) return false
                k += 1
              }
              return true
            }
            parens -= 1
          case '[' => squares += 1
          case ']' => if (squares > 0) squares -= 1
          case '{' => braces += 1
          case '}' => if (braces > 0) braces -= 1
          case _ =>
        }
        j += 1
      }
    }
    true
  }

  // ---- number -------------------------------------------------------------

  private def parseNumber(): JsonValue = {
    val numberStr = new StringBuilder
    var char = at()
    val isArray = ctxCurrent == CtxArr
    while (char != NUL && NumberChars.indexOf(char) >= 0 && (!isArray || char != ',')) {
      if (char != '_') numberStr.append(char)
      index += 1
      char = at()
    }
    if (at() != NUL && Character.isLetter(at())) {
      // this was a string instead
      index -= numberStr.length
      return parseString()
    }
    if (numberStr.nonEmpty && "-eE/,".indexOf(numberStr.last) >= 0) {
      numberStr.setLength(numberStr.length - 1)
      index -= 1
    }
    val text = numberStr.toString
    if (text.contains(",")) return JStr(text)
    if (text.contains(".") || text.contains("e") || text.contains("E")) {
      try JFloat(java.lang.Double.parseDouble(text))
      catch { case _: NumberFormatException => JStr(text) }
    } else {
      try JInt(BigInt(text))
      catch { case _: NumberFormatException => JStr(text) }
    }
  }

  // ---- comment ------------------------------------------------------------

  private def parseComment(): JsonValue = {
    var continueLoop = true
    while (continueLoop) {
      continueLoop = false
      val char = at()
      val sb = new StringBuilder
      def lineTerminators: String = {
        var t = "\n\r"
        if (ctxHas(CtxArr)) t += "]"
        if (ctxHas(CtxValue)) t += "}"
        if (ctxHas(CtxKey)) t += ":"
        t
      }
      if (char == '#') {
        var c = at()
        val terms = lineTerminators
        while (c != NUL && terms.indexOf(c) < 0) { sb.append(c); index += 1; c = at() }
        log(s"Found line comment: $sb, ignoring")
      } else if (char == '/') {
        val next = at(1)
        if (next == '/') {
          sb.append("//")
          index += 2
          var c = at()
          while (c != NUL && c != '\n' && c != '\r') { sb.append(c); index += 1; c = at() }
          log(s"Found line comment: $sb, ignoring")
        } else if (next == '*') {
          sb.append("/*")
          index += 2
          var closed = false
          var prev: Char = '*' // comment text opens with "/*"
          while (!closed) {
            val c = at()
            if (c == NUL) {
              log("Reached end-of-string while parsing block comment; unclosed block comment.")
              closed = true
            } else {
              sb.append(c)
              index += 1
              if (prev == '*' && c == '/') closed = true
              prev = c
            }
          }
          log(s"Found block comment: $sb, ignoring")
        } else index += 1
      }
      if (ctxEmpty) {
        skipWhitespaces()
        if (at() == '#' || at() == '/') continueLoop = true
        else return parseJson()
      }
    }
    JStr("")
  }

  // ---- string -------------------------------------------------------------

  private final class StringState {
    var missingQuotes = false
    var doubledQuotes = false
    var lDelim: Char = '"'
    var rDelim: String = "\"" // sentinel NUL appended for low-smart-quote spans
    val acc = new StringBuilder
    var unmatchedDelimiter = false
    var pendingInlineContainer = false
    val inlineStack = mutable.ArrayBuffer.empty[Char]
    var noFutureDelimiter = false
    val lookaheadCache = mutable.HashMap.empty[String, (Int, Int)] // targets -> (start, matchIdx or -1)
    var unmatchedOpeningBraces = 0
    var regexClassStart: Int = -1 // -1 = none

    def outerR: Char = rDelim.charAt(0)
    def activeR: Char = rDelim.charAt(rDelim.length - 1)
    def inLowSmartSpan: Boolean = activeR == NUL
    def pushLowSmartSpan(): Unit = rDelim += NUL
    def popLowSmartSpan(): Unit = rDelim = rDelim.substring(0, rDelim.length - 1)

    def append(content: String): Unit = {
      val start = acc.length
      acc.append(content)
      var off = 0
      content.foreach { ch =>
        if (ch == '{') unmatchedOpeningBraces += 1
        else if (ch == '}' && unmatchedOpeningBraces > 0) unmatchedOpeningBraces -= 1
        else if (ch == '[') regexClassStart = start + off + 1
        else if (ch == ']') regexClassStart = -1
        off += 1
      }
    }

    /** Replace last char of acc with `content` and rebuild brace tracking. */
    def replaceLast(content: String): Unit = {
      acc.setLength(acc.length - 1)
      acc.append(content)
      rebuild()
    }

    def rebuild(): Unit = {
      unmatchedOpeningBraces = 0
      regexClassStart = -1
      var i = 0
      while (i < acc.length) {
        val ch = acc.charAt(i)
        if (ch == '{') unmatchedOpeningBraces += 1
        else if (ch == '}' && unmatchedOpeningBraces > 0) unmatchedOpeningBraces -= 1
        else if (ch == '[') regexClassStart = i + 1
        else if (ch == ']') regexClassStart = -1
        i += 1
      }
    }
  }

  private def cachedSkipToCharacter(st: StringState, targets: String, idx: Int = 0): Int = {
    val startIndex = index + idx
    st.lookaheadCache.get(targets) match {
      case Some((cachedStart, -1)) if startIndex >= cachedStart => return s.length - index
      case Some((cachedStart, m)) if m >= 0 && cachedStart <= startIndex && startIndex <= m =>
        return m - index
      case _ =>
    }
    val off = skipToCharacter(targets, idx)
    val matchChar = at(off)
    if (matchChar == NUL) {
      st.lookaheadCache(targets) = (startIndex, -1)
      off
    } else {
      val matchIndex = index + off
      if (matchIndex == 0 || s.charAt(matchIndex - 1) != '\\')
        st.lookaheadCache(targets) = (startIndex, matchIndex)
      off
    }
  }

  private def trySimpleQuotedString(): Option[String] = {
    if (at() != '"') return None
    val start = index + 1
    var end = -1
    var scanI = start
    val scanN = s.length
    while (end == -1 && scanI < scanN) {
      if (s.charAt(scanI) == '"') end = scanI else scanI += 1
    }
    if (end == -1) return None
    val value = sub(start, end)
    if (value.indexOf('\\') >= 0 || value.indexOf('\n') >= 0 || value.indexOf('\r') >= 0) return None
    var nextIndex = end + 1
    while (nextIndex < s.length && isSpace(s.charAt(nextIndex))) nextIndex += 1
    val nextChar = if (nextIndex < s.length) s.charAt(nextIndex) else NUL
    ctxCurrent match {
      case CtxKey => if (nextChar != ':') return None
      case CtxValue => if (nextChar != ',' && nextChar != '}' && nextChar != NUL) return None
      case CtxArr => if (nextChar != ',' && nextChar != ']' && nextChar != NUL) return None
      case _ => if (nextChar != NUL) return None
    }
    index = end + 1
    Some(value)
  }

  private def parseBooleanOrNull(): Option[JsonValue] = {
    val char = Character.toLowerCase(at())
    val (word, value): (String, JsonValue) = char match {
      case 't' => ("true", JBool(true))
      case 'f' => ("false", JBool(false))
      case 'n' => ("null", JNull)
      case _ => return Some(JStr("")) // unreachable by construction
    }
    val startingIndex = index
    var i = 0
    var c = char
    while (c != NUL && i < word.length && c == word.charAt(i)) {
      i += 1
      index += 1
      c = Character.toLowerCase(at())
    }
    if (i == word.length) Some(value)
    else { index = startingIndex; None }
  }

  private def parseJsonLlmBlock(): Option[JsonValue] = {
    if (index + 7 <= s.length && sub(index, index + 7) == "```json") {
      val i = skipToCharacter("`", 7)
      if (index + i + 3 <= s.length && sub(index + i, index + i + 3) == "```") {
        index += 7
        return Some(parseJson())
      }
    }
    None
  }

  def parseString(): JsonValue = {
    prepareStringEntry() match {
      case Right(direct) => direct
      case Left(st) =>
        val char = scanStringBody(st)
        finalizeStringResult(st, char)
    }
  }

  /** Left(state) to continue scanning; Right(value) for a direct result. */
  private def prepareStringEntry(): Either[StringState, JsonValue] = {
    var char = at()
    if (char == '#' || char == '/') return Right(parseComment())
    while (char != NUL && !isDelim(char) && !Character.isLetterOrDigit(char)) {
      index += 1
      char = at()
    }
    if (char == NUL) return Right(JStr(""))

    trySimpleQuotedString() match {
      case Some(v) => return Right(JStr(v))
      case None =>
    }

    val st = new StringState
    if (char == '\'') { st.lDelim = '\''; st.rDelim = "'" }
    else if (char == HighSmartOpen) { st.lDelim = HighSmartOpen; st.rDelim = HighSmartClose.toString }
    else if (Character.isLetterOrDigit(char)) {
      val lower = Character.toLowerCase(char)
      if ((lower == 't' || lower == 'f' || lower == 'n') && ctxCurrent != CtxKey) {
        parseBooleanOrNull() match {
          case Some(v) => return Right(v)
          case None =>
        }
      }
      log("While parsing a string, we found a literal instead of a quote")
      st.missingQuotes = true
    }

    if (!st.missingQuotes) index += 1
    if (at() == '`') {
      parseJsonLlmBlock() match {
        case Some(v) => return Right(v)
        case None =>
          log("While parsing a string, we found code fences but they did not enclose valid JSON, continuing parsing the string")
      }
    }

    if (at() == st.lDelim) {
      if ((ctxCurrent == CtxKey && at(1) == ':') ||
          (ctxCurrent == CtxValue && (at(1) == ',' || at(1) == '}')) ||
          (ctxCurrent == CtxArr && (at(1) == ',' || at(1) == ']'))) {
        index += 1
        return Right(JStr(""))
      }
      if (at(1) == st.lDelim) {
        log("While parsing a string, we found a doubled quote and then a quote again, ignoring it")
        if (strict) strictErr("Found doubled quotes followed by another quote.")
        return Right(JStr(""))
      }
      val i0 = skipToCharacter(st.outerR.toString, 1)
      if (at(i0 + 1) == st.outerR) {
        log("While parsing a string, we found a valid starting doubled quote")
        st.doubledQuotes = true
        index += 1
      } else {
        val i1 = scrollWhitespaces(1)
        val nextC = at(i1)
        if (isDelim(nextC) || nextC == '{' || nextC == '[') {
          log("While parsing a string, we found a doubled quote but also another quote afterwards, ignoring it")
          if (strict)
            strictErr("Found doubled quotes followed by another quote while parsing a string.")
          index += 1
          return Right(JStr(""))
        }
        if (nextC != ',' && nextC != ']' && nextC != '}') {
          log("While parsing a string, we found a doubled quote but it was a mistake, removing one quote")
          index += 1
        }
      }
    }
    Left(st)
  }

  /** Handles a backslash-escape after it landed in acc; returns the next
    * char to continue with, or None if the escape was not handled. */
  private def normalizeEscapeSequence(st: StringState, char0: Char): (Boolean, Char) = {
    log("Found a stray escape sequence, normalizing it")
    var char = char0
    val activeR = st.activeR
    if (st.inLowSmartSpan && char == '"') {
      st.replaceLast(char.toString)
      st.popLowSmartSpan()
      index += 1
      return (true, at())
    }
    if (char == '\\') {
      val runStart = index - 1
      var runEnd = index + 1
      while (runEnd < s.length && s.charAt(runEnd) == '\\') runEnd += 1
      val runLength = runEnd - runStart
      val nextChar = at(runEnd - index)
      if (runLength % 2 == 0 && nextChar != activeR) {
        st.replaceLast("\\" * (runLength / 2))
        index = runEnd
        return (true, at())
      }
    }
    if (char == activeR || char == 't' || char == 'n' || char == 'r' || char == 'b' || char == '\\') {
      val repl = char match {
        case 't' => "\t"; case 'n' => "\n"; case 'r' => "\r"; case 'b' => "\b"
        case c => c.toString
      }
      st.replaceLast(repl)
      index += 1
      var nextChar = at()
      while (nextChar != NUL && st.acc.nonEmpty && st.acc.last == '\\' &&
          (nextChar == activeR || nextChar == '\\')) {
        st.replaceLast(nextChar.toString)
        index += 1
        nextChar = at()
      }
      return (true, nextChar)
    }
    if (char == 'u' || char == 'x') {
      val numChars = if (char == 'u') 4 else 2
      if (index + 1 + numChars <= s.length) {
        val hex = sub(index + 1, index + 1 + numChars)
        if (hex.forall(c => "0123456789abcdefABCDEF".indexOf(c) >= 0)) {
          log("Found a unicode escape sequence, normalizing it")
          st.replaceLast(new String(Character.toChars(Integer.parseInt(hex, 16))))
          index += 1 + numChars
          return (true, at())
        }
      }
    } else if (char == LowSmartQuote || (isDelim(char) && char != activeR)) {
      log("Found a delimiter that was escaped but shouldn't be escaped, removing the escape")
      st.replaceLast(char.toString)
      index += 1
      return (true, at())
    }
    (false, char)
  }

  // helper lookaheads ------------------------------------------------------

  private def bareKeyIsFollowedByColon(keyIdx0: Int): Boolean = {
    var keyIdx = keyIdx0
    val keyChar0 = at(keyIdx)
    if (keyChar0 == NUL || !(Character.isLetterOrDigit(keyChar0) || keyChar0 == '_')) return false
    var continueScan = true
    while (continueScan) {
      val kc = at(keyIdx)
      if (kc == NUL || !(Character.isLetterOrDigit(kc) || kc == '_' || kc == '-')) continueScan = false
      else keyIdx += 1
    }
    keyIdx = scrollWhitespaces(keyIdx)
    at(keyIdx) == ':'
  }

  private def matchingStringDelimiter(d: Char): Char =
    if (d == HighSmartOpen) HighSmartClose else d

  private def startsNestedInlineContainer(idx: Int): Boolean = {
    val opening = at(idx)
    var prevIdx = idx - 1
    while (prevIdx >= 0) {
      val prevChar = if (index + prevIdx < s.length && index + prevIdx >= 0) at(prevIdx) else NUL
      if (prevChar == NUL) return true
      if (!isSpace(prevChar)) {
        if (prevChar == '{' || prevChar == '[' || prevChar == '(') return true
        if (prevChar != ',' && prevChar != ':') return false
        val nextIdx = scrollWhitespaces(idx + 1)
        val nextChar = at(nextIdx)
        if (opening == '[' || opening == '(') {
          return nextChar == ']' || nextChar == ')' || isDelim(nextChar) || nextChar == '-' ||
            nextChar == '{' || nextChar == '[' || nextChar == '(' ||
            nextChar == 't' || nextChar == 'f' || nextChar == 'n' ||
            (nextChar != NUL && Character.isDigit(nextChar))
        }
        if (opening != '{') return false
        if (nextChar == '}' || isDelim(nextChar)) return true
        return prevChar == ':' && bareKeyIsFollowedByColon(nextIdx)
      }
      prevIdx -= 1
    }
    true
  }

  private def closingOf(c: Char): Char = c match {
    case '[' => ']'; case '{' => '}'; case '(' => ')'; case _ => NUL
  }

  private def skipInlineContainer(idx: Int): Int = { // returns -1 for None
    val opening = at(idx)
    val closing = closingOf(opening)
    if (closing == NUL) return idx
    val stack = mutable.ArrayBuffer[Char](closing)
    var i = idx + 1
    while (stack.nonEmpty) {
      val char = at(i)
      if (char == NUL) return -1
      if (isDelim(char)) {
        val endDelim = matchingStringDelimiter(char)
        i = skipToCharacter(endDelim.toString, i + 1)
        if (at(i) != endDelim) return -1
      } else if (closingOf(char) != NUL && startsNestedInlineContainer(i)) {
        stack += closingOf(char)
      } else if (char == stack.last) {
        stack.remove(stack.length - 1)
        if (stack.isEmpty) return i + 1
      }
      i += 1
    }
    -1
  }

  private def scrollCommentPrefixedMemberStart(idx0: Int): Int = {
    var idx = scrollWhitespaces(idx0)
    var continueScan = true
    while (continueScan) {
      val char = at(idx)
      if (char == '#') {
        var c = char
        while (c != NUL && c != '\n' && c != '\r') { idx += 1; c = at(idx) }
        idx = scrollWhitespaces(idx)
      } else if (char == '/' && at(idx + 1) == '/') {
        idx += 2
        var c = at(idx)
        while (c != NUL && c != '\n' && c != '\r') { idx += 1; c = at(idx) }
        idx = scrollWhitespaces(idx)
      } else if (char == '/' && at(idx + 1) == '*') {
        idx += 2
        var closed = false
        while (!closed) {
          val c = at(idx)
          if (c == NUL) return idx
          if (c == '*' && at(idx + 1) == '/') { idx += 2; closed = true }
          else idx += 1
        }
        idx = scrollWhitespaces(idx)
      } else continueScan = false
    }
    idx
  }

  private def objectMemberStartsAt(nextMemberIdx: Int): Boolean = {
    val nm = at(nextMemberIdx)
    if (nm == '}' || nm == NUL) return false
    if (isDelim(nm)) {
      val keyEndDelim = matchingStringDelimiter(nm)
      var keyEndIdx = skipToCharacter(keyEndDelim.toString, nextMemberIdx + 1)
      if (at(keyEndIdx) != keyEndDelim) return false
      val afterKeyIdx = scrollWhitespaces(keyEndIdx + 1)
      return at(afterKeyIdx) == ':'
    }
    if (nm != NUL && (Character.isLetterOrDigit(nm) || nm == '_'))
      return bareKeyIsFollowedByColon(nextMemberIdx)
    false
  }

  private def quotedObjectMemberFollows(quoteIdx: Int): Boolean = {
    val commaIdx = scrollWhitespaces(quoteIdx + 1)
    if (at(commaIdx) != ',') return false
    val nextMemberIdx = scrollCommentPrefixedMemberStart(commaIdx + 1)
    objectMemberStartsAt(nextMemberIdx)
  }

  private def onlyWhitespaceUntil(end: Int): Boolean = {
    var j = 1
    while (j < end) {
      val c = at(j)
      if (c != NUL && !isSpace(c)) return false
      j += 1
    }
    true
  }

  private def postFenceContainerStartsNextMember(containerEndIdx: Int): Boolean = {
    val afterIdx = scrollWhitespaces(containerEndIdx)
    val after = at(afterIdx)
    if (after == '}' || after == NUL) return true
    if (after != ',') return false
    val nextMemberIdx = scrollCommentPrefixedMemberStart(afterIdx + 1)
    at(nextMemberIdx) == '}' || at(nextMemberIdx) == NUL || objectMemberStartsAt(nextMemberIdx)
  }

  private def braceBeforeCodeFenceBelongsToString(st: StringState, fenceIdx: Int): Boolean = {
    var quoteSearchIdx = fenceIdx + 3
    val nextContentIdx = scrollCommentPrefixedMemberStart(quoteSearchIdx)
    var keepPostFenceContainer = false
    val c = at(nextContentIdx)
    if (c == '{' || c == '[' || c == '(') {
      val containerEndIdx = skipInlineContainer(nextContentIdx)
      if (containerEndIdx != -1) {
        if (postFenceContainerStartsNextMember(containerEndIdx)) return false
        keepPostFenceContainer = true
        quoteSearchIdx = containerEndIdx
      }
    }
    val outerR = st.outerR
    var quoteIdx = skipToCharacter(outerR.toString, quoteSearchIdx)
    while (at(quoteIdx) == outerR) {
      val afterQuoteIdx = scrollWhitespaces(quoteIdx + 1)
      val afterQuote = at(afterQuoteIdx)
      if (afterQuote == ',' || afterQuote == '}' || afterQuote == ']' || afterQuote == NUL) {
        if (keepPostFenceContainer) st.pendingInlineContainer = true
        return true
      }
      quoteIdx = skipToCharacter(outerR.toString, quoteIdx + 1)
    }
    false
  }

  // comma classification ---------------------------------------------------

  private def bareMemberHasRecoverableValue(st: StringState, valueIdx: Int): Boolean = {
    val valueStartIdx = scrollWhitespaces(valueIdx)
    val valueStart = at(valueStartIdx)
    if (isDelim(valueStart) || valueStart == '{' || valueStart == '[' || valueStart == '-') return true
    if (valueStart != NUL && Character.isDigit(valueStart)) return true
    for (literal <- Seq("true", "false", "null")) {
      if (literal.indices.forall(off => at(valueStartIdx + off) == literal.charAt(off))) {
        val valueEnd = at(valueStartIdx + literal.length)
        if (valueEnd == NUL || isSpace(valueEnd) || valueEnd == ',' || valueEnd == '}' || valueEnd == ']')
          return true
      }
    }
    val valueEndIdx = cachedSkipToCharacter(st, StringDelims + "}", valueStartIdx)
    at(valueEndIdx) == '}'
  }

  /** "container" | "member" | "string" | "string_no_future_delimiter" */
  private def classifyObjectValueComma(st: StringState): String = {
    val nextIdx = scrollWhitespaces(1)
    val nextC = at(nextIdx)
    if (nextC == '}' || nextC == NUL) return "member"

    if (isDelim(nextC)) {
      var keyEndIdx = skipToCharacter(nextC.toString, nextIdx + 1)
      if (at(keyEndIdx) == NUL) return "string"
      keyEndIdx = scrollWhitespaces(keyEndIdx + 1)
      return if (at(keyEndIdx) == ':') "member" else "string"
    }

    if (nextC == '`') {
      var bareKeyIdx = nextIdx + 1
      var continueScan = true
      while (continueScan) {
        val kc = at(bareKeyIdx)
        if (kc == NUL || !(Character.isLetterOrDigit(kc) || kc == '_' || kc == '-')) continueScan = false
        else bareKeyIdx += 1
      }
      bareKeyIdx = scrollWhitespaces(bareKeyIdx)
      return if (at(bareKeyIdx) == ':') "member" else "string"
    }

    if (nextC != NUL && (Character.isLetterOrDigit(nextC) || nextC == '_')) {
      var bareKeyIdx = nextIdx
      var continueScan = true
      while (continueScan) {
        val kc = at(bareKeyIdx)
        if (kc == NUL || !(Character.isLetterOrDigit(kc) || kc == '_' || kc == '-')) continueScan = false
        else bareKeyIdx += 1
      }
      bareKeyIdx = scrollWhitespaces(bareKeyIdx)
      if (at(bareKeyIdx) == ':' && bareMemberHasRecoverableValue(st, bareKeyIdx + 1))
        return "member"
    }

    if (nextC == '{' || nextC == '[') return "container"

    val nextSpecialIdx = cachedSkipToCharacter(st, StringDelims + "{[", nextIdx)
    val nextSpecial = at(nextSpecialIdx)
    if (nextSpecial == NUL) return "string_no_future_delimiter"
    if (nextSpecial == '{' || nextSpecial == '[') return "string"

    val keyEndIdx0 = cachedSkipToCharacter(st, nextSpecial.toString, nextSpecialIdx + 1)
    if (at(keyEndIdx0) == NUL) return "string"
    val keyEndIdx = scrollWhitespaces(keyEndIdx0 + 1)
    if (at(keyEndIdx) == ':') "member" else "string"
  }

  /** (pendingInlineContainer', keepChar) */
  private def updateInlineContainerStack(char: Char, st: StringState): Boolean = {
    if (char == '{' || char == '[') {
      if (st.pendingInlineContainer) {
        st.inlineStack += char
        st.pendingInlineContainer = false
        return false
      }
      if (st.inlineStack.nonEmpty) st.inlineStack += char
    }
    if (st.inlineStack.nonEmpty &&
        ((char == '}' && st.inlineStack.last == '{') || (char == ']' && st.inlineStack.last == '['))) {
      st.inlineStack.remove(st.inlineStack.length - 1)
      return true
    }
    false
  }

  // right-delimiter candidate ----------------------------------------------

  /** (handled, nextChar, shouldBreak) */
  private def handleRightDelimiterCandidate(st: StringState, char0: Char): (Boolean, Char, Boolean) = {
    val outerR = st.outerR
    var char = char0

    if (st.doubledQuotes && at(1) == outerR) {
      log("While parsing a string, we found a doubled quote, ignoring it")
      index += 1
      return (true, char, false)
    }

    if (st.missingQuotes && ctxCurrent == CtxValue) {
      var i = 1
      var nextC = at(i)
      while (nextC != NUL && nextC != outerR && nextC != st.lDelim) {
        i += 1
        nextC = at(i)
      }
      if (nextC != NUL) {
        i += 1
        i = scrollWhitespaces(i)
        if (at(i) == ':') {
          index -= 1
          log("In a string with missing quotes and object value context, I found a delimeter but it turns out it was the beginning on the next key. Stopping here.")
          return (false, at(), true)
        }
      }
      return (false, char, false)
    }

    if (st.unmatchedDelimiter) {
      st.unmatchedDelimiter = false
      st.append(char.toString)
      index += 1
      return (true, at(), false)
    }

    var i = 1
    var nextC = at(i)
    var checkCommaInObjectValue = true
    var loop = true
    while (loop && nextC != NUL && nextC != outerR && nextC != st.lDelim) {
      if (checkCommaInObjectValue && Character.isLetter(nextC)) checkCommaInObjectValue = false
      if ((ctxHas(CtxKey) && (nextC == ':' || nextC == '}')) ||
          (ctxHas(CtxValue) && nextC == '}') ||
          (ctxHas(CtxArr) && (nextC == ']' || nextC == ',')) ||
          (checkCommaInObjectValue && ctxCurrent == CtxValue && nextC == ',')) {
        loop = false
      } else {
        i += 1
        nextC = at(i)
      }
    }
    if (nextC == ',' && ctxCurrent == CtxValue) {
      i += 1
      i = skipToCharacter(outerR.toString, i)
      nextC = at(i)
      i += 1
      i = scrollWhitespaces(i)
      nextC = at(i)
      if (nextC == '}' || nextC == ',') {
        log("While parsing a string, we found a misplaced quote that would have closed the string but has a different meaning here, ignoring it")
        st.append(char.toString)
        index += 1
        return (true, at(), false)
      }
    } else if (nextC == outerR && at(i - 1) != '\\') {
      if (onlyWhitespaceUntil(i) &&
          !(ctxCurrent == CtxValue && quotedObjectMemberFollows(i))) {
        return (false, char, true)
      }
      if (ctxCurrent == CtxValue) {
        if (quotedObjectMemberFollows(i)) {
          log("While parsing a string, we found a misplaced quote that would have closed the string but has a different meaning here, ignoring it")
          st.append(char.toString)
          index += 1
          return (true, at(), false)
        }
        i = skipToCharacter(outerR.toString, i + 1)
        i += 1
        nextC = at(i)
        var loop2 = true
        while (loop2 && nextC != NUL && nextC != ':') {
          if (nextC == ',' || nextC == ']' || nextC == '}' ||
              (nextC == outerR && at(i - 1) != '\\')) loop2 = false
          else { i += 1; nextC = at(i) }
        }
        if (nextC != ':') {
          log("While parsing a string, we found a misplaced quote that would have closed the string but has a different meaning here, ignoring it")
          st.unmatchedDelimiter = !st.unmatchedDelimiter
          st.append(char.toString)
          index += 1
          return (true, at(), false)
        }
      } else if (ctxCurrent == CtxArr) {
        var evenDelimiters = nextC == outerR
        var loop3 = nextC == outerR
        while (loop3) {
          i = skipToCharacter(outerR.toString + "]", i + 1)
          nextC = at(i)
          if (nextC != outerR) { evenDelimiters = false; loop3 = false }
          else {
            i = skipToCharacter(outerR.toString + "]", i + 1)
            nextC = at(i)
            if (nextC != outerR) loop3 = false
          }
        }
        if (evenDelimiters) {
          log("While parsing a string in Array context, we detected a quoted section that would have closed the string but has a different meaning here, ignoring it")
          st.unmatchedDelimiter = !st.unmatchedDelimiter
          st.append(char.toString)
          index += 1
          return (true, at(), false)
        }
        return (false, char, true)
      } else if (ctxCurrent == CtxKey) {
        log("While parsing a string in Object Key context, we detected a quoted section that would have closed the string but has a different meaning here, ignoring it")
        st.append(char.toString)
        index += 1
        return (true, at(), false)
      }
    }
    (false, char, false)
  }

  // body scan ---------------------------------------------------------------

  private def scanStringBody(st: StringState): Char = {
    val outerR = st.outerR
    var char = at()
    var break = false
    while (!break && char != NUL && (char != outerR || st.inLowSmartSpan)) {
      var continueLoop = false

      if (st.missingQuotes) {
        if (ctxCurrent == CtxKey && (char == ':' || isSpace(char))) {
          log("While parsing a string missing the left delimiter in object key context, we found a :, stopping here")
          break = true
        } else if (ctxCurrent == CtxArr && (char == ']' || char == ',')) {
          log("While parsing a string missing the left delimiter in array context, we found a ] or ,, stopping here")
          break = true
        }
      }
      if (!break && char == LowSmartQuote && (st.acc.isEmpty || st.acc.last != '\\')) {
        st.pushLowSmartSpan()
        st.append(char.toString); index += 1; char = at()
        continueLoop = true
      }
      if (!break && !continueLoop && st.inLowSmartSpan && char == HighSmartClose) {
        st.popLowSmartSpan()
        st.append(char.toString); index += 1; char = at()
        continueLoop = true
      }
      if (!break && !continueLoop &&
          (st.pendingInlineContainer ||
            (ctxCurrent == CtxValue && char == '{' && at(-1) != '\\' &&
              bareKeyIsFollowedByColon(scrollWhitespaces(1)))) &&
          (char == '{' || char == '[' || char == '(') &&
          (st.acc.isEmpty || st.acc.last != '\\')) {
        val containerEndIdx = skipInlineContainer(0)
        if (containerEndIdx != -1) {
          log("While parsing a string in object value context, we found a balanced inline container that belongs to the string, keeping it")
          st.pendingInlineContainer = false
          st.inlineStack.clear()
          st.append(sub(index, index + containerEndIdx))
          index += containerEndIdx
          char = at()
          continueLoop = true
        }
      }
      if (!break && !continueLoop && !streamStable && ctxCurrent == CtxValue && char == ',' &&
          !st.pendingInlineContainer && st.inlineStack.isEmpty) {
        val classification =
          if (st.noFutureDelimiter) "string" else classifyObjectValueComma(st)
        if (classification == "member") {
          log("While parsing a string missing the right delimiter in object value context, we found a comma that starts the next object member. Stopping here")
          break = true
        } else {
          if (classification == "string_no_future_delimiter") st.noFutureDelimiter = true
          st.pendingInlineContainer = classification == "container"
          log("While parsing a string in object value context, we found a comma that belongs to the string, keeping it")
          st.append(char.toString); index += 1; char = at()
          continueLoop = true
        }
      }
      if (!break && !continueLoop) {
        val keep = updateInlineContainerStack(char, st)
        if (keep) {
          st.append(char.toString); index += 1; char = at()
          continueLoop = true
        }
      }
      if (!break && !continueLoop && !streamStable && ctxCurrent == CtxValue && char == '}' &&
          (st.acc.isEmpty || st.acc.last != outerR)) {
        if (st.unmatchedOpeningBraces > 0) {
          st.append(char.toString); index += 1; char = at()
          continueLoop = true
        } else {
          var rDelimMissing = true
          skipWhitespaces()
          if (at(1) == '\\') rDelimMissing = false
          var i = cachedSkipToCharacter(st, outerR.toString, 1)
          var nextC = at(i)
          if (nextC != NUL) {
            i += 1
            i = scrollWhitespaces(i)
            nextC = at(i)
            if (nextC == NUL || nextC == ',' || nextC == '}') rDelimMissing = false
            else {
              i = skipToCharacter(st.lDelim.toString, i)
              nextC = at(i)
              if (nextC == NUL) rDelimMissing = false
              else {
                i = scrollWhitespaces(i + 1)
                nextC = at(i)
                if (nextC != NUL && nextC != ':') rDelimMissing = false
              }
            }
          } else {
            i = skipToCharacter(":", 1)
            nextC = at(i)
            if (nextC != NUL) break = true
            else {
              i = scrollWhitespaces(1)
              val j = skipToCharacter("}", i)
              if (j - i > 1) rDelimMissing = false
            }
          }
          if (!break && rDelimMissing) {
            log("While parsing a string missing the left delimiter in object value context, we found a , or } and we couldn't determine that a right delimiter was present. Stopping here")
            break = true
          }
        }
      }
      if (!break && !continueLoop && !streamStable && char == ']' && ctxHas(CtxArr) &&
          (st.acc.isEmpty || st.acc.last != outerR)) {
        val i = skipToCharacter(outerR.toString)
        if (at(i) == NUL) break = true
      }
      if (!break && !continueLoop && ctxCurrent == CtxValue && char == '}') {
        val i = scrollWhitespaces(1)
        val nextC = at(i)
        if (nextC == '`' && at(i + 1) == '`' && at(i + 2) == '`') {
          if (braceBeforeCodeFenceBelongsToString(st, i)) {
            log("While parsing a string in object value context, we found a literal fenced snippet after }, keeping it in the string")
            st.append(char.toString); index += 1; char = at()
            continueLoop = true
          } else {
            log("While parsing a string in object value context, we found a } that closes the object before code fences, stopping here")
            break = true
          }
        } else if (nextC == NUL) {
          log("While parsing a string in object value context, we found a } that closes the object, stopping here")
          break = true
        }
      }
      if (!break && !continueLoop) {
        st.append(char.toString)
        index += 1
        char = at()
        if (char == NUL) {
          if (streamStable && st.acc.nonEmpty && st.acc.last == '\\') st.replaceLast("")
          break = true
        }
        if (!break && st.acc.nonEmpty && st.acc.last == '\\') {
          val (handled, c2) = normalizeEscapeSequence(st, char)
          char = c2
          if (handled) continueLoop = true
        }
        if (!break && !continueLoop && char == ':' && !st.missingQuotes && ctxCurrent == CtxKey) {
          var i = skipToCharacter(st.lDelim.toString, 1)
          var nextC = at(i)
          if (nextC != NUL) {
            i += 1
            i = skipToCharacter(outerR.toString, i)
            nextC = at(i)
            if (nextC != NUL) {
              i += 1
              i = scrollWhitespaces(i)
              val ch = at(i)
              if (ch == ',' || ch == '}') {
                log(s"While parsing a string missing the right delimiter in object key context, we found a $ch stopping here")
                break = true
              }
            }
          } else {
            log("While parsing a string missing the right delimiter in object key context, we found a :, stopping here")
            break = true
          }
        }
        if (!break && !continueLoop && st.inLowSmartSpan && char == '"') {
          st.popLowSmartSpan()
          st.append(char.toString); index += 1; char = at()
          continueLoop = true
        }
        if (!break && !continueLoop && char == outerR && ctxCurrent == CtxValue &&
            quoteBelongsToRegexCharacterClass(st)) {
          log("While parsing a string, we found a bare quote inside a regex character class, keeping it")
          st.append(char.toString); index += 1; char = at()
          continueLoop = true
        }
        if (!break && !continueLoop && char == outerR && st.acc.nonEmpty && st.acc.last != '\\') {
          val (handled, c3, shouldBreak) = handleRightDelimiterCandidate(st, char)
          char = c3
          if (shouldBreak) break = true
          else if (handled) continueLoop = true
        }
      }
    }
    char
  }

  private def quoteBelongsToRegexCharacterClass(st: StringState): Boolean = {
    val start = st.regexClassStart
    if (start == -1) return false
    var i = start
    while (i < st.acc.length) {
      if (isSpace(st.acc.charAt(i))) return false
      i += 1
    }
    val closingIdx = skipToCharacter("]", 1)
    at(closingIdx) == ']'
  }

  private def finalizeStringResult(st: StringState, char: Char): JsonValue = {
    val outerR = st.outerR
    if (char != NUL && st.missingQuotes && ctxCurrent == CtxKey && isSpace(char)) {
      log("While parsing a string, handling an extreme corner case in which the LLM added a comment instead of valid string, invalidate the string and return an empty value")
      skipWhitespaces()
      if (at() != ':' && at() != ',') return JStr("")
    }
    var result = st.acc.toString
    if (char != outerR) {
      if (!streamStable) {
        log("While parsing a string, we missed the closing quote, ignoring")
        result = rstrip(result)
      }
    } else {
      index += 1
    }
    if (!streamStable && (st.missingQuotes || (result.nonEmpty && result.last == '\n'))) {
      result = rstrip(result)
    }
    JStr(result)
  }

  private def rstrip(x: String): String = {
    var end = x.length
    while (end > 0 && isSpace(x.charAt(end - 1))) end -= 1
    x.substring(0, end)
  }
}

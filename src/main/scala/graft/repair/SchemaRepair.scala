package graft.repair

import scala.collection.mutable

/** JSON-Schema-guided repair + validation over [[JsonValue]] — the typed
  * layer of the reference (schema_repair.py, SURVEY.md §2.8 R1–R15):
  * scalar coercions, missing-value fills (const > enum[0] > default > type
  * zero values), unions (first-branch-that-validates wins, allOf fold),
  * object repair (required, defaults, patternProperties literal subset,
  * additionalProperties drop), array repair (uniform/positional items,
  * additionalItems, minItems), double-serialized unwrap, `$ref` resolution
  * with cycle detection, enum/const enforcement, and the salvage-mode
  * heuristics (list→object by property order, drop-invalid-items, root
  * `[{...}]` unwrap, safe required fill).
  *
  * Difference from the reference: schema guidance is applied AFTER parsing
  * (parse → repair_value) rather than threaded through every recursive
  * parser call; the observable results on the reference's schema corpus are
  * asserted in SchemaRepairSpec.
  */
object SchemaRepair {

  final class SchemaError(msg: String) extends RuntimeException(msg) // invalid schema
  final class RepairError(msg: String) extends RuntimeException(msg) // value cannot satisfy schema

  sealed trait Mode
  case object Standard extends Mode
  case object Salvage extends Mode

  /** Entry point mirroring `loads(json_str, schema=...)`. */
  /** `skipJsonLoads` mirrors the reference's flag with schema present
    * (json_repair.py:168-170): skip the whole-input strict-decode fast path
    * and go straight to the schema-threaded repair parse. */
  def loads(input: CharSequence, schema: JsonValue, mode: Mode = Standard,
      skipJsonLoads: Boolean = false): JsonValue = {
    val r = new SchemaRepairer(schema, mode)
    if (!skipJsonLoads) PyJson.loads(input) match {
      case Some(v) if r.isValid(v, schema) => return v
      case Some(v) =>
        try {
          val repaired = r.repairValue(Some(deepCopy(v)), schema, "$")
          if (r.isValid(repaired, schema)) return repaired
        } catch { case _: RepairError => }
      case None =>
    }
    // full schema-threaded parse (reference parse_with_schema): the schema
    // and JSONPath ride along every recursive parser call
    val repaired = new RepairParser(input, strict = false, tryValidJsonSuffix = true)
      .parseWithSchema(r, schema)
    if (!r.isValid(repaired, schema))
      throw new RepairError("Value does not satisfy schema after repair.")
    repaired
  }

  def deepCopy(v: JsonValue): JsonValue = v match {
    case JArr(xs) => JArr(xs.map(deepCopy))
    case JObj(fs) => JObj(fs.map { case (k, x) => k -> deepCopy(x) })
    case other => other
  }

  /** Python `==` for enum/const comparison (numeric cross-type equality). */
  def pyEq(a: JsonValue, b: JsonValue): Boolean = (a, b) match {
    case (JInt(x), JFloat(y)) => x.toDouble == y
    case (JFloat(x), JInt(y)) => x == y.toDouble
    case (JArr(xs), JArr(ys)) =>
      xs.length == ys.length && xs.indices.forall(i => pyEq(xs(i), ys(i)))
    case (JObj(xs), JObj(ys)) =>
      xs.size == ys.size && xs.forall { case (k, v) => ys.get(k).exists(pyEq(v, _)) }
    case _ => a == b
  }

  /** Object-schema pieces the parser threads through member parsing
    * (reference parser_schema.ObjectSchemaConfig). */
  final case class ObjectConfig(
      properties: mutable.LinkedHashMap[String, JsonValue],
      patternProperties: mutable.LinkedHashMap[String, JsonValue],
      additionalProperties: Option[JsonValue],
      required: Seq[String])

  /** Array-schema pieces (reference parser_schema.ArraySchemaConfig). */
  final case class ArrayConfig(
      itemsSchema: Option[JsonValue],
      additionalItems: Option[JsonValue])

  /** patternProperties literal+anchor subset (utils/pattern_properties.py). */
  def matchPatternProperties(patterns: mutable.LinkedHashMap[String, JsonValue], key: String): Seq[JsonValue] = {
    val unsupported = ".^$*+?{}[]|()\\"
    patterns.toSeq.flatMap { case (pattern, schema) =>
      val aStart = pattern.startsWith("^")
      val aEnd = pattern.endsWith("$")
      val lit = pattern.substring(if (aStart) 1 else 0,
        if (aEnd) pattern.length - 1 else pattern.length)
      if (lit.exists(c => unsupported.indexOf(c) >= 0)) None
      else {
        val ok =
          if (aStart && aEnd) key == lit
          else if (aStart) key.startsWith(lit)
          else if (aEnd) key.endsWith(lit)
          else key.contains(lit)
        if (ok) Some(schema) else None
      }
    }
  }
}

final class SchemaRepairer(rootSchema: JsonValue, mode: SchemaRepair.Mode) {
  import SchemaRepair._

  private def err(msg: String): Nothing = throw new RepairError(msg)
  private def serr(msg: String): Nothing = throw new SchemaError(msg)

  private def fields(s: JsonValue): mutable.LinkedHashMap[String, JsonValue] = s match {
    case JObj(f) => f
    case _ => mutable.LinkedHashMap.empty
  }

  // ---- $ref / schema resolution -------------------------------------------

  def resolveSchema(schema: JsonValue): JsonValue = schema match {
    case null => JBool(true)
    case b: JBool => b
    case o: JObj =>
      var cur = o
      val seen = mutable.Set.empty[Int]
      while (cur.fields.contains("$ref")) {
        val ref = cur.fields("$ref") match {
          case JStr(r) => r
          case _ => serr("$ref must be a string.")
        }
        val id = System.identityHashCode(cur)
        if (seen.contains(id)) serr(s"Circular $$ref detected: $ref")
        seen += id
        resolveRef(ref) match {
          case b: JBool => return b
          case next: JObj => cur = next
          case _ => serr(s"Unresolvable $$ref: $ref")
        }
      }
      cur
    case _ => serr("Schema must be an object.")
  }

  private def resolveRef(ref: String): JsonValue = {
    if (!ref.startsWith("#/")) serr(s"Unsupported $$ref: $ref")
    var cur: JsonValue = rootSchema
    ref.stripPrefix("#/").split("/").foreach { part =>
      val p = part.replace("~1", "/").replace("~0", "~")
      cur = cur match {
        case JObj(f) if f.contains(p) => f(p)
        case _ => serr(s"Unresolvable $$ref: $ref")
      }
    }
    cur match {
      case o: JObj => o
      case b: JBool => b
      case _ => serr(s"Unresolvable $$ref: $ref")
    }
  }

  def isObjectSchema(schema0: JsonValue): Boolean = resolveSchema(schema0) match {
    case JObj(f) =>
      f.get("type") match {
        case Some(JStr("object")) => true
        case Some(JArr(ts)) if ts.contains(JStr("object")) => true
        case Some(_) => false
        case None =>
          Seq("properties", "patternProperties", "additionalProperties", "required").exists(f.contains)
      }
    case _ => false
  }

  def isArraySchema(schema0: JsonValue): Boolean = resolveSchema(schema0) match {
    case JObj(f) =>
      f.get("type") match {
        case Some(JStr("array")) => true
        case Some(JArr(ts)) if ts.contains(JStr("array")) => true
        case Some(_) => false
        case None => f.contains("items")
      }
    case _ => false
  }

  def isSalvage: Boolean = mode == Salvage

  /** Reference `object_schema_config`. Call with a resolved object schema. */
  def objectConfig(schema: JsonValue): ObjectConfig = {
    val f = fields(schema)
    ObjectConfig(
      properties = f.get("properties").map(fields).getOrElse(mutable.LinkedHashMap.empty),
      patternProperties = f.get("patternProperties").map(fields).getOrElse(mutable.LinkedHashMap.empty),
      additionalProperties = f.get("additionalProperties"),
      required = f.get("required") match {
        case Some(JArr(rs)) => rs.collect { case JStr(s) => s }.toSeq
        case _ => Seq.empty
      })
  }

  /** Reference `array_schema_config`. */
  def arrayConfig(schema: JsonValue): ArrayConfig = {
    val f = fields(schema)
    ArrayConfig(f.get("items"), f.get("additionalItems"))
  }

  // ---- mini validator ------------------------------------------------------

  def isValid(value: JsonValue, schema0: JsonValue): Boolean = {
    val schema = resolveSchema(schema0)
    schema match {
      case JBool(b) => b
      case JObj(f) =>
        if (f.isEmpty) return true
        f.get("allOf").forall { case JArr(ss) => ss.forall(s => isValid(value, s)); case _ => true } &&
        f.get("anyOf").forall { case JArr(ss) => ss.exists(s => isValid(value, s)); case _ => true } &&
        f.get("oneOf").forall { case JArr(ss) => ss.count(s => isValid(value, s)) == 1; case _ => true } &&
        f.get("const").forall(c => pyEq(value, c)) &&
        f.get("enum").forall { case JArr(es) => es.exists(e => pyEq(value, e)); case _ => true } &&
        f.get("type").forall(t => typeMatches(value, t)) &&
        validObject(value, f) && validArray(value, f)
      case _ => false
    }
  }

  private def typeMatches(v: JsonValue, t: JsonValue): Boolean = t match {
    case JArr(ts) => ts.exists(typeMatches(v, _))
    case JStr(name) => name match {
      case "string" => v.isInstanceOf[JStr]
      case "integer" => v match {
        case _: JInt => true
        case JFloat(d) => d.isWhole
        case _ => false
      }
      case "number" => v.isInstanceOf[JInt] || v.isInstanceOf[JFloat]
      case "boolean" => v.isInstanceOf[JBool]
      case "null" => v == JNull
      case "object" => v.isInstanceOf[JObj]
      case "array" => v.isInstanceOf[JArr]
      case _ => false
    }
    case _ => false
  }

  private def validObject(v: JsonValue, f: mutable.LinkedHashMap[String, JsonValue]): Boolean = v match {
    case JObj(vf) =>
      val required = f.get("required") match {
        case Some(JArr(rs)) => rs.collect { case JStr(s) => s }
        case _ => Seq.empty
      }
      if (!required.forall(vf.contains)) return false
      val props = f.get("properties").map(fields).getOrElse(mutable.LinkedHashMap.empty)
      if (!vf.forall { case (k, pv) => props.get(k).forall(ps => isValid(pv, ps)) }) return false
      val patterns = f.get("patternProperties").map(fields)
      patterns.foreach { ps =>
        val ok = vf.forall { case (k, pv) =>
          matchPatternProperties(ps, k).forall(s => isValid(pv, s))
        }
        if (!ok) return false
      }
      f.get("additionalProperties") match {
        case Some(JBool(false)) =>
          val covered = (k: String) => props.contains(k) ||
            patterns.exists(ps => matchPatternProperties(ps, k).nonEmpty)
          if (!vf.keys.forall(covered)) return false
        case Some(s @ (JObj(_) | JBool(true))) =>
          val extra = vf.filter { case (k, _) =>
            !props.contains(k) && !patterns.exists(ps => matchPatternProperties(ps, k).nonEmpty)
          }
          if (!extra.forall { case (_, pv) => isValid(pv, s) }) return false
        case _ =>
      }
      f.get("minProperties").forall { case JInt(n) => vf.size >= n; case _ => true }
    case _ => true // object constraints don't apply to non-objects
  }

  private def validArray(v: JsonValue, f: mutable.LinkedHashMap[String, JsonValue]): Boolean = v match {
    case JArr(items) =>
      val itemsOk = f.get("items") match {
        case Some(JArr(pos)) => // positional (draft-07 style)
          items.zip(pos).forall { case (it, s) => isValid(it, s) } && {
            if (items.length <= pos.length) true
            else f.get("additionalItems") match {
              case Some(JBool(false)) => false
              case Some(s: JObj) => items.drop(pos.length).forall(isValid(_, s))
              case _ => true
            }
          }
        case Some(s @ (JObj(_) | JBool(_))) => items.forall(isValid(_, s))
        case _ => true
      }
      itemsOk && f.get("minItems").forall { case JInt(n) => items.length >= n; case _ => true }
    case _ => true
  }

  // ---- repair --------------------------------------------------------------

  /** `value = None` means MISSING_VALUE. */
  def repairValue(value: Option[JsonValue], schema0: JsonValue, path: String): JsonValue = {
    val schema = resolveSchema(schema0)
    schema match {
      case JBool(true) => return value.getOrElse(JStr(""))
      case JBool(false) => err("Schema does not allow any values.")
      case JObj(f) if f.isEmpty => return value.getOrElse(JStr(""))
      case _ =>
    }
    val f = fields(schema)

    if (value.isEmpty) return fillMissing(f, path)
    val v = value.get

    f.get("allOf") match {
      case Some(JArr(subs)) =>
        if (subs.isEmpty) return v
        var repaired = repairValue(Some(v), subs.head, path)
        subs.tail.foreach(s => repaired = repairValue(Some(repaired), s, path))
        return repaired
      case _ =>
    }
    f.get("oneOf").orElse(f.get("anyOf")) match {
      case Some(JArr(subs)) => return repairUnion(v, subs.toSeq, path)
      case _ =>
    }

    val expectedType: Option[JsonValue] = f.get("type").orElse {
      if (isObjectSchema(schema)) Some(JStr("object"))
      else if (isArraySchema(schema)) Some(JStr("array"))
      else None
    }

    expectedType match {
      case Some(JArr(types)) =>
        return repairTypeUnion(v, types.toSeq.collect { case JStr(t) => t }, schema, path)
      case _ =>
    }

    val repaired = expectedType match {
      case Some(JStr("object")) => repairObject(v, schema, path)
      case Some(JStr("array")) => repairArray(v, schema, path)
      case Some(JStr(t)) => coerceScalar(v, t, path)
      case _ => v
    }
    applyEnumConst(repaired, f, path)
  }

  private def repairUnion(v: JsonValue, subs: Seq[JsonValue], path: String): JsonValue = {
    var lastError: RepairError = null
    subs.foreach { sub =>
      try {
        val candidate = repairValue(Some(deepCopy(v)), sub, path)
        if (isValid(candidate, sub)) return candidate
        else lastError = new RepairError(s"Value at $path does not match union branch.")
      } catch { case e: RepairError => lastError = e }
    }
    if (lastError != null) throw lastError
    err("No schema matched the value.")
  }

  private def repairTypeUnion(v: JsonValue, types: Seq[String], schema: JsonValue, path: String): JsonValue = {
    val f = fields(schema)
    var lastError: RepairError = null
    types.foreach { t =>
      try {
        val candidate0 = t match {
          case "array" => repairArray(deepCopy(v), schema, path)
          case "object" => repairObject(deepCopy(v), schema, path)
          case _ => coerceScalar(deepCopy(v), t, path)
        }
        val candidate = applyEnumConst(candidate0, f, path)
        if (typeMatches(candidate, JStr(t)) && isValid(candidate,
            JObj(f.clone().addOne("type" -> JStr(t))))) return candidate
        lastError = new RepairError(s"Value at $path does not match type $t.")
      } catch { case e: RepairError => lastError = e }
    }
    if (lastError != null) throw lastError
    err("No schema type matched the value.")
  }

  /** R9: a string that CONTAINS serialized JSON of the expected shape. */
  private def loadJsonStringContainer(v: JsonValue, wantObject: Boolean, path: String): JsonValue = v match {
    case JStr(s) =>
      PyJson.loads(s) match {
        case Some(parsed)
            if (wantObject && parsed.isInstanceOf[JObj]) || (!wantObject && parsed.isInstanceOf[JArr]) =>
          parsed
        case Some(_) => v
        case None if mode == Salvage =>
          val repaired = RepairParser.repairToValue(s)
          if ((wantObject && repaired.isInstanceOf[JObj]) || (!wantObject && repaired.isInstanceOf[JArr]))
            repaired
          else v
        case None => v
      }
    case _ => v
  }

  private def repairArray(v0: JsonValue, schema: JsonValue, path: String): JsonValue = {
    val f = fields(schema)
    val v = loadJsonStringContainer(v0, wantObject = false, path)
    var items: mutable.ArrayBuffer[JsonValue] = v match {
      case JArr(xs) => xs
      case other => mutable.ArrayBuffer(other match {
        case x => x
      })
    }

    def repairOrDrop(item: JsonValue, itemSchema: JsonValue, itemPath: String): Option[JsonValue] =
      try Some(repairValue(Some(item), itemSchema, itemPath))
      catch {
        case e: SchemaError => throw e
        case e: RepairError => if (mode == Salvage) None else throw e
      }

    f.get("items") match {
      case Some(JArr(pos)) =>
        val out = mutable.ArrayBuffer.empty[JsonValue]
        pos.zipWithIndex.foreach { case (itemSchema, idx) =>
          if (idx < items.length)
            repairOrDrop(items(idx), itemSchema, s"$path[$idx]").foreach(out += _)
        }
        if (items.length > pos.length) {
          val tail = items.drop(pos.length)
          f.get("additionalItems") match {
            case Some(s: JObj) =>
              tail.zipWithIndex.foreach { case (it, off) =>
                repairOrDrop(it, s, s"$path[${pos.length + off}]").foreach(out += _)
              }
            case Some(JBool(false)) => // dropped
            case _ => out ++= tail
          }
        }
        items = out
      case Some(s @ (JObj(_) | JBool(_))) =>
        val out = mutable.ArrayBuffer.empty[JsonValue]
        items.zipWithIndex.foreach { case (it, idx) =>
          repairOrDrop(it, s, s"$path[$idx]").foreach(out += _)
        }
        items = out
      case _ =>
    }
    f.get("minItems") match {
      case Some(JInt(n)) if items.length < n => err(s"Array at $path does not meet minItems.")
      case _ =>
    }
    JArr(items)
  }

  private def repairObject(v0: JsonValue, schema: JsonValue, path: String): JsonValue = {
    val f = fields(schema)
    var v: JsonValue = v0

    if (mode == Salvage) {
      v match {
        case JArr(xs) if isObjectSchema(schema) && !isArraySchema(schema) =>
          mapListToObject(xs.toSeq, f, path) match {
            case Some(mapped) => v = mapped
            case None if path == "$" && xs.length == 1 && xs.head.isInstanceOf[JObj] =>
              v = xs.head
            case None =>
            // (set-literal salvage — {"a","b"} text under an object schema —
            // happens at PARSE time via the threaded schema, matching the
            // reference; a true array literal here must NOT be converted)
          }
        case _ =>
      }
    }
    v = loadJsonStringContainer(v, wantObject = true, path)
    val vf = v match {
      case JObj(m) => m
      case other => err(s"Expected object at $path.")
    }

    val props = f.get("properties").map(fields).getOrElse(mutable.LinkedHashMap.empty)
    val patterns = f.get("patternProperties").map(fields)
    val required = f.get("required") match {
      case Some(JArr(rs)) => rs.collect { case JStr(s) => s }.toSeq
      case _ => Seq.empty
    }

    if (mode == Salvage && required.nonEmpty) {
      required.foreach { key =>
        if (!vf.contains(key)) {
          props.get(key).foreach { propSchema =>
            fillMissingForSalvage(propSchema).foreach(filled => vf(key) = filled)
          }
        }
      }
    }

    val missingRequired = required.filterNot(vf.contains)
    if (missingRequired.nonEmpty)
      err(s"Missing required properties at $path: ${missingRequired.mkString(", ")}")

    val out = mutable.LinkedHashMap.empty[String, JsonValue]
    props.foreach { case (key, propSchema) =>
      val keyPath = s"$path.$key"
      if (vf.contains(key)) out(key) = repairValue(Some(vf(key)), propSchema, keyPath)
      else propSchema match {
        case JObj(pf) if pf.contains("default") && !required.contains(key) =>
          out(key) = deepCopy(pf("default"))
        case _ =>
      }
    }
    vf.foreach { case (key, raw) =>
      if (!props.contains(key)) {
        val keyPath = s"$path.$key"
        val matched = patterns.map(ps => matchPatternProperties(ps, key)).getOrElse(Seq.empty)
        if (matched.nonEmpty) {
          var rv = repairValue(Some(raw), matched.head, keyPath)
          matched.tail.foreach(s => rv = repairValue(Some(rv), s, keyPath))
          out(key) = rv
        } else f.get("additionalProperties") match {
          case Some(s: JObj) => out(key) = repairValue(Some(raw), s, keyPath)
          case Some(JBool(false)) => // dropped
          case _ => out(key) = raw
        }
      }
    }
    f.get("minProperties") match {
      case Some(JInt(n)) if out.size < n => err(s"Object at $path does not meet minProperties.")
      case _ =>
    }
    JObj(out)
  }

  /** R7: salvage — N-item list mapped onto N properties in declaration
    * order, all-or-nothing. */
  private def mapListToObject(
      items: Seq[JsonValue],
      f: mutable.LinkedHashMap[String, JsonValue],
      path: String): Option[JsonValue] = {
    val props = f.get("properties").map(fields).getOrElse(return None)
    if (props.isEmpty || items.length != props.size) return None
    val out = mutable.LinkedHashMap.empty[String, JsonValue]
    props.keys.zipWithIndex.foreach { case (key, idx) =>
      try out(key) = repairValue(Some(items(idx)), props(key), s"$path.$key")
      catch {
        case e: SchemaError => throw e
        case _: RepairError => return None
      }
    }
    Some(JObj(out))
  }

  /** R8: safe sources only. */
  private def fillMissingForSalvage(schema0: JsonValue): Option[JsonValue] = {
    val schema = resolveSchema(schema0)
    val f = schema match { case JObj(m) => m; case _ => return None }
    if (f.contains("default")) return Some(deepCopy(f("default")))
    if (f.contains("const")) return Some(deepCopy(f("const")))
    f.get("enum") match {
      case Some(JArr(es)) if es.nonEmpty => return Some(deepCopy(es.head))
      case _ =>
    }
    val t: Option[String] = f.get("type") match {
      case Some(JStr(s)) => Some(s)
      case _ =>
        if (isArraySchema(schema)) Some("array")
        else if (isObjectSchema(schema)) Some("object")
        else None
    }
    t match {
      case Some("array") if !f.get("minItems").exists(_.isTruthy) => Some(JArr.empty)
      case Some("object") if !f.get("minProperties").exists(_.isTruthy) => Some(JObj.empty)
      case _ => None
    }
  }

  /** R3: priority const > enum[0] > default > type zero values. */
  private def fillMissing(f: mutable.LinkedHashMap[String, JsonValue], path: String): JsonValue = {
    if (f.contains("const")) return deepCopy(f("const"))
    f.get("enum") match {
      case Some(JArr(es)) =>
        if (es.isEmpty) err(s"Enum at $path has no values.")
        return deepCopy(es.head)
      case _ =>
    }
    if (f.contains("default")) return deepCopy(f("default"))

    f.get("type") match {
      case Some(JArr(types)) =>
        types.foreach {
          case JStr(t) =>
            try return fillMissing(f.clone().addOne("type" -> JStr(t)), path)
            catch { case _: RepairError => }
          case _ =>
        }
        err(s"Cannot infer missing value at $path.")
      case _ =>
    }
    val t: Option[String] = f.get("type") match {
      case Some(JStr(s)) => Some(s)
      case _ =>
        val self = JObj(f)
        if (isObjectSchema(self)) Some("object")
        else if (isArraySchema(self)) Some("array")
        else None
    }
    t match {
      case Some("string") => JStr("")
      case Some("integer") | Some("number") => JInt(0)
      case Some("boolean") => JBool(false)
      case Some("array") =>
        if (f.get("minItems").exists(_.isTruthy)) err(s"Array at $path requires minItems.")
        JArr.empty
      case Some("object") =>
        if (f.get("minProperties").exists(_.isTruthy)) err(s"Object at $path requires minProperties.")
        JObj.empty
      case Some("null") => JNull
      case _ => err(s"Cannot infer missing value at $path.")
    }
  }

  /** R2: scalar coercions (schema_repair.py:631-703). */
  private def coerceScalar(v: JsonValue, t: String, path: String): JsonValue = t match {
    case "string" => v match {
      case s: JStr => s
      case JInt(i) => JStr(i.toString)
      case JFloat(d) => JStr(PyJson.floatRepr(d))
      case _ => err(s"Expected string at $path.")
    }
    case "integer" => v match {
      case _: JBool => err(s"Expected integer at $path.")
      case i: JInt => i
      case JFloat(d) =>
        if (d.isWhole) JInt(BigInt(d.toLong)) else err(s"Expected integer at $path.")
      case JStr(s) =>
        try JInt(BigInt(s.trim))
        catch {
          case _: NumberFormatException =>
            val d = try s.trim.toDouble catch {
              case _: NumberFormatException => err(s"Expected integer at $path.")
            }
            if (d.isWhole) JInt(BigInt(d.toLong)) else err(s"Expected integer at $path.")
        }
      case _ => err(s"Expected integer at $path.")
    }
    case "number" => v match {
      case _: JBool => err(s"Expected number at $path.")
      case n @ (JInt(_) | JFloat(_)) => n
      case JStr(s) =>
        try JFloat(s.trim.toDouble)
        catch { case _: NumberFormatException => err(s"Expected number at $path.") }
      case _ => err(s"Expected number at $path.")
    }
    case "boolean" => v match {
      case b: JBool => b
      case JStr(s) => s.toLowerCase match {
        case "true" | "yes" | "y" | "on" | "1" => JBool(true)
        case "false" | "no" | "n" | "off" | "0" => JBool(false)
        case _ => err(s"Expected boolean at $path.")
      }
      case JInt(i) if i == 0 || i == 1 => JBool(i == 1)
      case JFloat(d) if d == 0.0 || d == 1.0 => JBool(d == 1.0)
      case _ => err(s"Expected boolean at $path.")
    }
    case "null" =>
      if (v == JNull) JNull else err(s"Expected null at $path.")
    case other => serr(s"Unsupported schema type $other at $path.")
  }

  private def applyEnumConst(v: JsonValue, f: mutable.LinkedHashMap[String, JsonValue], path: String): JsonValue = {
    f.get("const").foreach(c => if (!pyEq(v, c)) err(s"Value at $path does not match const."))
    f.get("enum").foreach {
      case JArr(es) => if (!es.exists(e => pyEq(v, e))) err(s"Value at $path does not match enum.")
      case _ =>
    }
    v
  }
}

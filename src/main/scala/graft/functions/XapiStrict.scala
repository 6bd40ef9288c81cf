package graft.functions

import com.fasterxml.jackson.databind.JsonNode

/** Strict cross-field xAPI statement rules that need a raw-JSON walk (they
  * operate on the document BEFORE schema projection, like the reference's
  * `mode="before"` validator):
  *
  *  1. recursive empty-value rejection — any field whose value is JSON
  *     null, `""` or `{}` invalidates the statement; recursion descends
  *     into nested OBJECTS only (not arrays) and skips `extensions`,
  *     exactly mirroring
  *     /root/reference/src/ralph/models/xapi/base/statements.py:49-73;
  *  2. interaction-component id uniqueness — `choices`/`scale`/`source`/
  *     `target`/`steps` arrays must not repeat an `id`
  *     (base/unnested_objects.py:79-84).
  */
object XapiStrict {

  private val InteractionLists = Set("choices", "scale", "source", "target", "steps")

  /** Entry point over an already-parsed tree (used by the one-parse
    * whole-row xAPI verdict). */
  def okNode(root: JsonNode): Boolean = root != null && root.isObject && walk(root)

  private def walk(node: JsonNode): Boolean = {
    val fields = node.fields()
    while (fields.hasNext) {
      val e = fields.next()
      val v = e.getValue
      // values in [None, "", {}] are invalid anywhere (statements.py:58-59)
      if (v.isNull || (v.isTextual && v.asText.isEmpty) ||
          (v.isObject && v.isEmpty)) return false
      if (InteractionLists(e.getKey) && v.isArray && !uniqueIds(v)) return false
      // recurse into dicts only, never into `extensions` (statements.py:60-61)
      if (v.isObject && e.getKey != "extensions" && !walk(v)) return false
    }
    true
  }

  private def uniqueIds(arr: JsonNode): Boolean = {
    val seen = scala.collection.mutable.Set.empty[String]
    val it = arr.elements()
    while (it.hasNext) {
      val el = it.next()
      if (el != null && el.isObject) {
        val id = el.get("id")
        if (id != null && id.isTextual && !seen.add(id.asText)) return false
      }
    }
    true
  }
}

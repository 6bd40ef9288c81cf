package graft.functions

import java.util.regex.Pattern

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The complete edX model catalog as an executable rule registry: one exact
  * payload/envelope rule per concrete model (105 `__selector__` keys —
  * SURVEY.md §1.5), ported from the reference's pydantic field definitions
  * under /root/reference/src/ralph/models/edx/ ** /fields/events.py and
  * statements.py.
  *
  * Why a Scala registry instead of a Catalyst `when()` chain: the r1 chain
  * (70+ branches × 8 `from_json` payload parses) exceeded Janino's method
  * limits and pushed the hottest projection of the whole engine into
  * interpreted evaluation. Here the entire per-model dispatch is ONE native
  * expression ([[EdxModelValid]]) whose generated code is a single static
  * call — trivially inside whole-stage codegen — and the payload JSON is
  * parsed exactly once per row (Jackson, same parser family Spark itself
  * uses).
  *
  * Union[Json[X], X] semantics (e.g. server.py:65): the envelope `from_json`
  * normalizes object-valued `event` to its JSON text, so both encodings
  * arrive here as a string and are parsed identically — mirroring pydantic's
  * acceptance of either. Models declaring `event: str` therefore accept any
  * string (the object-vs-string distinction is erased by normalization; a
  * documented deviation).
  */
object EdxModels {

  /** Shared tree mapper, tuned for the hot path: field-name interning OFF
    * (String.intern is a global-table synchronized call per key — measured
    * win on high-field-count envelopes; canonicalization still dedups via
    * the factory's symbol table) and the FDP fast double parser ON. Output
    * trees are identical — BASELINE.md, "Map-path parse audit", records the
    * verdict throughput (104-128 → 148 krows/s single-threaded). */
  private val mapper = {
    // the concrete JsonFactoryBuilder (the generic TSFBuilder wildcards
    // defeat Scala's chaining)
    val b = new com.fasterxml.jackson.core.JsonFactoryBuilder()
    b.disable(com.fasterxml.jackson.core.JsonFactory.Feature.INTERN_FIELD_NAMES)
    b.enable(com.fasterxml.jackson.core.StreamReadFeature.USE_FAST_DOUBLE_PARSER)
    new ObjectMapper(b.build())
  }

  /** Envelope fields a rule may constrain beyond the payload. */
  final case class Ctx(event: String, name: String, page: String,
                       session: String, mode: String)

  // ---------- payload predicates over Jackson nodes -----------------------

  type P = JsonNode => Boolean

  private def parse(s: String): JsonNode =
    if (s == null) null
    else try mapper.readTree(s) catch { case _: Exception => null }

  private def g(n: JsonNode, f: String): JsonNode = n.get(f)
  private def present(v: JsonNode): Boolean = v != null && !v.isNull

  private def str(f: String): P = n => { val v = g(n, f); present(v) && v.isTextual }
  private def strMax(f: String, max: Int): P =
    n => { val v = g(n, f); present(v) && v.isTextual && v.asText.length <= max }
  private def optStr(f: String): P = n => { val v = g(n, f); !present(v) || v.isTextual }
  private def int_(f: String): P = n => { val v = g(n, f); present(v) && v.isIntegralNumber }
  private def posInt(f: String): P =
    n => { val v = g(n, f); present(v) && v.isIntegralNumber && v.asLong > 0 }
  private def optInt(f: String): P =
    n => { val v = g(n, f); !present(v) || v.isIntegralNumber }
  private def nonNeg(f: String): P =
    n => { val v = g(n, f); present(v) && v.isNumber && v.asDouble >= 0 }
  private def num(f: String): P = n => { val v = g(n, f); present(v) && v.isNumber }
  private def bool(f: String): P = n => { val v = g(n, f); present(v) && v.isBoolean }
  private def optBool(f: String): P = n => { val v = g(n, f); !present(v) || v.isBoolean }
  private def obj(f: String): P = n => { val v = g(n, f); present(v) && v.isObject }
  private def arr(f: String): P = n => { val v = g(n, f); present(v) && v.isArray }
  private def optArr(f: String): P = n => { val v = g(n, f); !present(v) || v.isArray }
  private def lit(f: String, vals: String*): P = {
    val s = vals.toSet
    n => { val v = g(n, f); present(v) && v.isTextual && s(v.asText) }
  }
  private def optLit(f: String, vals: String*): P = {
    val s = vals.toSet
    n => { val v = g(n, f); !present(v) || (v.isTextual && s(v.asText)) }
  }
  private def rx(f: String, re: String): P = {
    val p = Pattern.compile(re)
    n => { val v = g(n, f); present(v) && v.isTextual && p.matcher(v.asText).matches() }
  }
  /** str-or-list-of-str (answers unions in problem models). */
  private def strOrList(f: String): P = n => {
    val v = g(n, f)
    present(v) && (v.isTextual || v.isArray)
  }
  private def arrOf(f: String)(each: P): P = n => {
    val v = g(n, f)
    present(v) && v.isArray && {
      val it = v.elements(); var ok = true
      while (ok && it.hasNext) { val e = it.next(); ok = e.isObject && each(e) }
      ok
    }
  }
  /** Dict with regex-constrained keys and per-value check
    * (problem answers/correct_map/submission maps). */
  private def dictOf(f: String, keyRe: String)(value: JsonNode => Boolean): P = {
    val p = Pattern.compile(keyRe)
    n => {
      val v = g(n, f)
      present(v) && v.isObject && {
        val it = v.fields(); var ok = true
        while (ok && it.hasNext) {
          val e = it.next()
          ok = p.matcher(e.getKey).matches() && value(e.getValue)
        }
        ok
      }
    }
  }
  private def all(ps: P*): P = n => ps.forall(_(n))

  // ---------- shared sub-model checks (problem_interaction/fields) --------

  /** block-v1 problem usage key (problem_interaction/fields/events.py). */
  private val ProblemIdRe =
    "^block-v1:[^/+]+(/|\\+)[^/+]+(/|\\+)[^/?]+type@problem\\+block@[a-f0-9]{32}$"
  /** asset path for textbook chapters (textbook_interaction/fields). */
  private val ChapterRe =
    "^/asset-v1:[^/+]+(/|\\+)[^/+]+(/|\\+)[^/?]+type@asset\\+block.+$"
  private val SeqIdRe =
    "^block-v1:[^/+]+(/|\\+)[^/+]+(/|\\+)[^/?]+type@sequential\\+block@[a-f0-9]{32}$"
  private val UsageIdRe =
    "^block-v1:[^/+]+(/|\\+)[^/+]+(/|\\+)[^/?]+type@([a-z]+)\\+block@[a-f0-9]{32}$"
  private val CourseIdRe = "^$|^course-v1:.+\\+.+\\+.+$"
  private val AnswerKeyRe = "^[a-f0-9]{32}_[0-9]_[0-9]$"
  private val UuidRe = "^[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-" +
    "[0-9a-fA-F]{4}-[0-9a-fA-F]{12}$"
  private val HttpRe = "^https?://.+$"

  /** CorrectMap entry (events.py:31-51): correctness literal + msg str. */
  private def correctMapEntry(v: JsonNode): Boolean =
    v.isObject &&
      lit("correctness", "correct", "incorrect")(v) && str("msg")(v) &&
      optLit("hintmode", "on_request", "always")(v) && optInt("npoints")(v)

  /** State (events.py:54-72): correct_map/input_state/seed/student_answers. */
  private def stateOk(f: String): P = n => {
    val v = g(n, f)
    present(v) && v.isObject &&
      obj("correct_map")(v) && obj("input_state")(v) &&
      int_("seed")(v) && obj("student_answers")(v) && optBool("done")(v)
  }

  /** SubmissionAnswerField (events.py:75-95). */
  private def submissionEntry(v: JsonNode): Boolean =
    v.isObject && strOrList("answer")(v) && bool("correct")(v) &&
      str("input_type")(v) && str("question")(v) &&
      str("response_type")(v) && str("variant")(v)

  /** ORAAssessEventField (open_response_assessment/fields/events.py:115-143). */
  private val oraAssess: P = all(
    str("feedback"),
    arrOf("parts")(p => str("option")(p) &&
      { val c = g(p, "criterion")
        present(c) && c.isObject && str("name")(c) && int_("points_possible")(c) }),
    n => { val r = g(n, "rubric")
      present(r) && r.isObject && rx("content_hash", "^[a-f0-9]{1,40}$")(r) },
    str("scored_at"), strMax("scorer_id", 40),
    lit("score_type", "PE", "SE", "ST"), rx("submission_uuid", UuidRe))

  /** Library content component (content_library_interaction/fields:16-32). */
  private def component(v: JsonNode): Boolean =
    v.isObject && str("original_usage_key")(v) &&
      str("original_usage_version")(v) && str("usage_key")(v)

  private val libraryBase: P = all(str("location"), posInt("max_count"),
    posInt("previous_count"), arr("result"))

  /** Notes base (notes/fields/events.py:17-36). */
  private val notesBase: P = all(str("component_usage_id"),
    str("highlighted_content"), str("note_id"), strMax("note_text", 8333),
    optArr("tags"))

  /** Bookmark base (bookmark/fields/events.py:17-49). */
  private val bookmarkBase: P = all(str("bookmark_id"),
    lit("component_type", "chapter", "course", "discussion", "html",
      "problem", "sequential", "vertical", "video"),
    rx("component_usage_id", UsageIdRe))

  /** Certificate base (certificate/fields/events.py:17-36). */
  private val certificateBase: P = all(
    rx("certificate_id", UuidRe), rx("certificate_url", HttpRe),
    rx("course_id", CourseIdRe),
    lit("enrollment_mode", "audit", "honor", "professional", "verified"),
    int_("user_id"))

  /** EnrollmentEventField (enrollment/fields/events.py:14-31):
    * user_id is int | "" | null. */
  private val enrollment: P = all(str("course_id"),
    lit("mode", "audit", "honor", "professional", "verified"),
    n => { val v = g(n, "user_id")
      !present(v) || v.isIntegralNumber || (v.isTextual && v.asText.isEmpty) })

  private val videoBase: P = all(str("id"), str("code"))
  private val Speeds = Seq("0.75", "1.0", "1.25", "1.50", "2.0")

  private val navigational: P = all(rx("id", SeqIdRe), int_("new"), int_("old"))

  private val textbookBase: P = all(int_("page"), rx("chapter", ChapterRe))
  private def textbook(extra: P*): P = all((textbookBase +: extra): _*)
  private val pdfSearch: P = all(bool("caseSensitive"), bool("highlightAll"),
    str("query"), str("status"))

  // ---------- rule model ----------------------------------------------------

  /** What the model's `event` field accepts. */
  sealed private trait Payload
  private case class JsonObj(p: P) extends Payload          // Union[Json[X], X]
  private case object AnyStr extends Payload                 // event: str
  private case class JsonArr(each: JsonNode => Boolean) extends Payload
  private case class LiteralStr(v: String) extends Payload   // Literal["{}"]
  private case object NoEvent extends Payload                 // model has no event field

  /** `page` envelope constraint: server models inherit `page: None`
    * (base.py:169); problem/ORA server models override to "x_module";
    * browser models require AnyUrl (browser.py:32). */
  sealed private trait PageReq
  private case object PageNull extends PageReq
  private case object PageXModule extends PageReq
  private case object PageUrl extends PageReq

  private case class Rule(payload: Payload, page: PageReq,
                          names: Set[String] = null, // null = model declares no `name`
                          modes: Set[String] = null) // context.mode literal (enrollment upgrades)

  private def nameEcho(t: String) = Set(t)

  // ---------- the registry: (event_source, event_type/model) → Rule --------

  private val rules: Map[(String, String), Rule] = {
    val b = Map.newBuilder[(String, String), Rule]
    def server(t: String, r: Rule): Unit = b += ((("server", t), r))
    def browser(t: String, r: Rule): Unit = b += ((("browser", t), r))
    // name-echoing server model with a JSON-object payload
    def serverNamed(t: String, p: P): Unit =
      server(t, Rule(JsonObj(p), PageNull, nameEcho(t)))
    // problem/ORA-style server model: page == "x_module", no name field
    def xmodule(t: String, p: P): Unit = server(t, Rule(JsonObj(p), PageXModule))
    def browserNamed(t: String, pay: Payload): Unit =
      browser(t, Rule(pay, PageUrl, nameEcho(t)))

    // -- Server path model (server.py:32-65): event = {GET: dict, POST: dict}
    server("server", Rule(JsonObj(all(obj("GET"), obj("POST"))), PageNull))

    // -- navigational (navigational/statements.py:19-113)
    browserNamed("page_close", LiteralStr("{}"))
    browserNamed("seq_goto", JsonObj(navigational))
    browserNamed("seq_next", JsonObj(all(navigational,
      n => g(n, "new").asLong == g(n, "old").asLong + 1)))
    browserNamed("seq_prev", JsonObj(all(navigational,
      n => g(n, "new").asLong == g(n, "old").asLong - 1)))

    // -- video (video/statements.py, fields/events.py:15-113); load/transcript
    //    names allow the edx.video.* alias; play/pause/seek/stop/speed/cc
    //    declare no `name` field
    browser("load_video", Rule(JsonObj(videoBase), PageUrl,
      Set("load_video", "edx.video.loaded")))
    browser("play_video", Rule(JsonObj(all(videoBase, nonNeg("currentTime"))), PageUrl))
    browser("pause_video", Rule(JsonObj(all(videoBase, nonNeg("currentTime"))), PageUrl))
    browser("stop_video", Rule(JsonObj(all(videoBase, nonNeg("currentTime"))), PageUrl))
    browser("seek_video", Rule(JsonObj(all(videoBase, nonNeg("new_time"),
      nonNeg("old_time"), str("type"))), PageUrl))
    browser("hide_transcript", Rule(JsonObj(all(videoBase, nonNeg("current_time"))),
      PageUrl, Set("hide_transcript", "edx.video.transcript.hidden")))
    browser("show_transcript", Rule(JsonObj(all(videoBase, nonNeg("current_time"))),
      PageUrl, Set("show_transcript", "edx.video.transcript.shown")))
    browser("speed_change_video", Rule(JsonObj(all(videoBase, nonNeg("currentTime"),
      lit("old_speed", Speeds: _*), lit("new_speed", Speeds: _*))), PageUrl))
    browser("video_hide_cc_menu", Rule(JsonObj(videoBase), PageUrl))
    browser("video_show_cc_menu", Rule(JsonObj(videoBase), PageUrl))

    // -- enrollment (enrollment/statements.py:24-136)
    serverNamed("edx.course.enrollment.activated", enrollment)
    serverNamed("edx.course.enrollment.deactivated", enrollment)
    serverNamed("edx.course.enrollment.mode_changed", enrollment)
    browser("edx.course.enrollment.upgrade_clicked",
      Rule(NoEvent, PageUrl, nameEcho("edx.course.enrollment.upgrade_clicked"),
        modes = Set("audit", "honor")))
    server("edx.course.enrollment.upgrade.succeeded",
      Rule(NoEvent, PageNull, nameEcho("edx.course.enrollment.upgrade.succeeded"),
        modes = Set("verified")))

    // -- problem interaction, server side (problem_interaction/statements.py)
    xmodule("problem_check", all(
      dictOf("answers", AnswerKeyRe)(v => v.isTextual || v.isArray),
      int_("attempts"),
      dictOf("correct_map", AnswerKeyRe)(correctMapEntry),
      int_("grade"), int_("max_grade"), rx("problem_id", ProblemIdRe),
      stateOk("state"),
      dictOf("submission", AnswerKeyRe)(submissionEntry),
      lit("success", "correct", "incorrect")))
    xmodule("problem_check_fail", all(
      dictOf("answers", AnswerKeyRe)(v => v.isTextual || v.isArray),
      lit("failure", "closed", "unreset"), rx("problem_id", ProblemIdRe),
      stateOk("state")))
    xmodule("problem_rescore", all(int_("attempts"),
      n => { val v = g(n, "correct_map"); present(v) && correctMapEntry(v) },
      int_("new_score"), int_("new_total"), int_("orig_score"), int_("orig_total"),
      rx("problem_id", ProblemIdRe), stateOk("state"),
      lit("success", "correct", "incorrect")))
    xmodule("problem_rescore_fail", all(lit("failure", "closed", "unreset"),
      rx("problem_id", ProblemIdRe), stateOk("state")))
    xmodule("reset_problem", all(stateOk("new_state"), stateOk("old_state"),
      rx("problem_id", ProblemIdRe)))
    xmodule("reset_problem_fail", all(lit("failure", "closed", "not_done"),
      stateOk("old_state"), rx("problem_id", ProblemIdRe)))
    xmodule("save_problem_fail", all(obj("answers"),
      lit("failure", "closed", "done"), rx("problem_id", ProblemIdRe),
      stateOk("state")))
    xmodule("save_problem_success", all(obj("answers"),
      rx("problem_id", ProblemIdRe), stateOk("state")))
    xmodule("showanswer", rx("problem_id", ProblemIdRe))
    xmodule("edx.problem.hint.demandhint_displayed", all(int_("hint_index"),
      int_("hint_len"), str("hint_text"), str("module_id")))
    xmodule("edx.problem.hint.feedback_displayed", all(bool("correctness"),
      str("hint_label"), arr("hints"), str("module_id"), str("problem_part_id"),
      lit("question_type", "stringresponse", "choiceresponse",
        "multiplechoiceresponse", "numericalresponse", "optionresponse"),
      arr("student_answer"), lit("trigger_type", "single", "compound"),
      optArr("choice_all")))

    // -- problem interaction, browser side (statements.py:74-245)
    browserNamed("problem_check", AnyStr)       // UIProblemCheck: event: str
    browserNamed("problem_graded",
      JsonArr(v => v.isTextual || v.isNull))     // List[str | None]
    // UIProblemReset: Union[str, Json[f], f] — the str branch is tried first
    // and accepts ANY string; after envelope normalization every payload is
    // a string, so the object branch is unreachable (documented deviation)
    browserNamed("problem_reset", AnyStr)
    browserNamed("problem_save", AnyStr)
    browserNamed("problem_show",
      JsonObj(str("problem")))                   // UIProblemShowEventField

    // -- textbook interaction (textbook_interaction/statements.py + fields)
    browserNamed("textbook.pdf.thumbnails.toggled", JsonObj(textbook(
      lit("name", "textbook.pdf.thumbnails.toggled"))))
    browserNamed("textbook.pdf.thumbnail.navigated", JsonObj(textbook(
      lit("name", "textbook.pdf.thumbnail.navigated"), str("thumbnail_title"))))
    browserNamed("textbook.pdf.outline.toggled", JsonObj(textbook(
      lit("name", "textbook.pdf.outline.toggled"))))
    browserNamed("textbook.pdf.chapter.navigated", JsonObj(all(
      lit("name", "textbook.pdf.chapter.navigated"), rx("chapter", ChapterRe),
      str("chapter_title"))))  // no page field on this one
    browserNamed("textbook.pdf.page.navigated", JsonObj(textbook(
      lit("name", "textbook.pdf.page.navigated"))))
    browserNamed("textbook.pdf.zoom.buttons.changed", JsonObj(textbook(
      lit("name", "textbook.pdf.zoom.buttons.changed"),
      lit("direction", "in", "out"))))
    browserNamed("textbook.pdf.zoom.menu.changed", JsonObj(textbook(
      lit("name", "textbook.pdf.zoom.menu.changed"),
      lit("amount", "0.5", "0.75", "1", "1.25", "1.5", "2", "3", "4",
        "auto", "custom", "page-actual", "page-fit", "page-width"))))
    browserNamed("textbook.pdf.display.scaled", JsonObj(textbook(
      lit("name", "textbook.pdf.display.scaled"), num("amount"))))
    browserNamed("textbook.pdf.page.scrolled", JsonObj(textbook(
      lit("name", "textbook.pdf.page.scrolled"), lit("direction", "up", "down"))))
    browserNamed("textbook.pdf.search.executed", JsonObj(textbook(
      lit("name", "textbook.pdf.search.executed"), pdfSearch)))
    browserNamed("textbook.pdf.search.navigatednext", JsonObj(textbook(
      lit("name", "textbook.pdf.search.navigatednext"), pdfSearch,
      bool("findPrevious"))))
    browserNamed("textbook.pdf.search.highlight.toggled", JsonObj(textbook(
      lit("name", "textbook.pdf.search.highlight.toggled"), pdfSearch)))
    browserNamed("textbook.pdf.searchcasesensitivity.toggled", JsonObj(textbook(
      lit("name", "textbook.pdf.searchcasesensitivity.toggled"), pdfSearch)))
    browserNamed("book", JsonObj(all(rx("chapter", ChapterRe),
      lit("name", "textbook.pdf.page.loaded", "textbook.pdf.page.navigatednext"),
      int_("new"), optInt("old"),
      lit("type", "gotopage", "prevpage", "nextpage"))))

    // -- bookmark (bookmark/statements.py + fields/events.py)
    browserNamed("edx.bookmark.accessed", JsonObj(bookmarkBase))
    serverNamed("edx.bookmark.added", all(bookmarkBase, rx("course_id", CourseIdRe)))
    serverNamed("edx.bookmark.removed", all(bookmarkBase, rx("course_id", CourseIdRe)))
    serverNamed("edx.bookmark.listed", all(int_("bookmarks_count"),
      lit("list_type", "per_course", "all_courses"),
      int_("page_number"), int_("page_size")))
    browserNamed("edx.course.tool.accessed", JsonObj(
      lit("tool_name", "edx.bookmarks", "edx.reviews", "edx.updates")))

    // -- certificate (certificate/statements.py + fields/events.py)
    serverNamed("edx.certificate.created", all(certificateBase,
      lit("generation_mode", "batch", "self")))
    serverNamed("edx.certificate.revoked", all(certificateBase, str("source")))
    serverNamed("edx.certificate.shared", all(certificateBase, str("social_network")))
    serverNamed("edx.certificate.evidence_visited", all(certificateBase,
      str("social_network"), rx("source_url", HttpRe)))
    serverNamed("edx.certificate.generation.enabled", rx("course_id", CourseIdRe))
    serverNamed("edx.certificate.generation.disabled", rx("course_id", CourseIdRe))

    // -- cohort (cohort/statements.py + fields/events.py)
    serverNamed("edx.cohort.created", all(int_("cohort_id"), str("name")))
    serverNamed("edx.cohort.user_added", all(int_("cohort_id"), str("name"),
      int_("user_id")))
    serverNamed("edx.cohort.user_removed", all(int_("cohort_id"), str("name"),
      int_("user_id")))

    // -- content libraries (content_library_interaction)
    serverNamed("edx.librarycontentblock.content.assigned", all(libraryBase,
      arrOf("added")(component)))
    serverNamed("edx.librarycontentblock.content.removed", all(libraryBase,
      lit("reason", "overlimit", "invalid"), arrOf("removed")(component)))

    // -- course content completion (course_content_completion)
    serverNamed("edx.done.toggled", bool("done"))
    browserNamed("edx.done.toggled", JsonObj(bool("done")))

    // -- drag and drop (drag_and_drop/statements.py + fields/events.py)
    serverNamed("edx.drag_and_drop_v2.feedback.closed", all(str("content"),
      bool("manually"), optBool("truncated")))
    serverNamed("edx.drag_and_drop_v2.feedback.opened", all(str("content"),
      bool("manually"), optBool("truncated")))
    serverNamed("edx.drag_and_drop_v2.item.dropped", all(int_("input"),
      int_("item_id"), bool("is_correct"), bool("is_correct_location"),
      str("location"), optStr("item"), optInt("location_id")))
    serverNamed("edx.drag_and_drop_v2.item.picked_up", int_("item_id"))
    server("edx.drag_and_drop_v2.loaded", Rule(NoEvent, PageNull,
      nameEcho("edx.drag_and_drop_v2.loaded")))

    // -- notes (notes/statements.py + fields/events.py) — all browser
    browserNamed("edx.course.student_notes.added", JsonObj(notesBase))
    browserNamed("edx.course.student_notes.deleted", JsonObj(notesBase))
    browserNamed("edx.course.student_notes.viewed", JsonObj(
      arrOf("notes")(v => str("note_id")(v))))
    browserNamed("edx.course.student_notes.edited", JsonObj(all(notesBase,
      strMax("old_note_text", 8333))))
    browserNamed("edx.course.student_notes.notes_page_viewed", JsonObj(
      optLit("view", "Recent Activity", "Search Results")))
    browserNamed("edx.course.student_notes.searched", JsonObj(all(
      int_("number_of_results"), str("search_string"))))
    browserNamed("edx.course.student_notes.used_unit_link", JsonObj(all(
      str("component_usage_id"), str("note_id"),
      lit("view", "Recent Activity", "Search Results"))))

    // -- open response assessment (open_response_assessment; server = x_module)
    xmodule("openassessmentblock.create_submission", all(
      n => { val a = g(n, "answer"); present(a) && a.isObject && arr("parts")(a) },
      int_("attempt_number"), str("created_at"), str("submitted_at"),
      rx("submission_uuid", UuidRe)))
    xmodule("openassessmentblock.get_peer_submission", all(
      strMax("course_id", 255),
      str("item_id"), str("requesting_student_id")))
    xmodule("openassessmentblock.get_submission_for_staff_grading", all(
      str("item_id"), str("requesting_staff_id"), lit("type", "full-grade")))
    xmodule("openassessmentblock.peer_assess", oraAssess)
    xmodule("openassessmentblock.self_assess", oraAssess)
    xmodule("openassessmentblock.staff_assess", all(oraAssess,
      lit("type", "regrade", "full-grade")))
    xmodule("openassessmentblock.save_submission",
      n => { val v = g(n, "saved_response")
        present(v) && v.isObject && str("text")(v) })
    xmodule("openassessmentblock.submit_feedback_on_assessments", all(
      str("feedback_text"), arr("options"), rx("submission_uuid", UuidRe)))
    xmodule("openassessment.student_training_assess_example", all(
      obj("corrections"), obj("options_selected"), rx("submission_uuid", UuidRe)))
    browserNamed("openassessment.upload_file", JsonObj(all(
      strMax("fileName", 255), num("fileSize"), str("fileType"))))

    // -- peer instruction (ubc)
    val pi: P = all(int_("answer"), strMax("rationale", 12500), bool("truncated"))
    serverNamed("ubc.peer_instruction.accessed", pi)
    serverNamed("ubc.peer_instruction.original_submitted", pi)
    serverNamed("ubc.peer_instruction.revised_submitted", pi)

    // -- poll / survey
    serverNamed("xblock.poll.submitted", all(str("url_name"), str("choice")))
    server("xblock.poll.view_results", Rule(NoEvent, PageNull,
      nameEcho("xblock.poll.view_results")))
    serverNamed("xblock.survey.submitted", all(str("url_name"), obj("choices")))
    server("xblock.survey.view_results", Rule(NoEvent, PageNull,
      nameEcho("xblock.survey.view_results")))

    // -- teams (teams_related/statements.py + fields/events.py)
    serverNamed("edx.team.activity_updated", str("team_id"))
    serverNamed("edx.team.created", str("team_id"))
    serverNamed("edx.team.deleted", str("team_id"))
    serverNamed("edx.team.changed", all(str("team_id"), str("field"),
      strMax("new", 1250), strMax("old", 1250), arr("truncated")))
    serverNamed("edx.team.learner_added", all(str("team_id"),
      lit("add_method", "added_on_create", "joined_from_team_view",
        "added_by_another_user"),
      str("user_id")))
    serverNamed("edx.team.learner_removed", all(str("team_id"),
      lit("remove_method", "self_removal", "team_deleted", "removed_by_admin"),
      str("user_id")))
    serverNamed("edx.team.page_viewed", all(str("team_id"),
      lit("page_name", "browse", "edit-team", "my-teams", "new-team",
        "search-teams", "single-team", "single-topic"),
      str("topic_id")))
    serverNamed("edx.team.searched", all(int_("number_of_results"),
      str("search_text"), str("topic_id")))

    b.result()
  }

  /** Families whose reference model places no constraint on the payload
    * content (no `event` field, or `event: str`) — used by specs to
    * partition positive/negative catalog cases. */
  val laxPayload: Set[(String, String)] = Set(
    ("server", "edx.drag_and_drop_v2.loaded"),
    ("server", "xblock.poll.view_results"),
    ("server", "xblock.survey.view_results"),
    ("server", "edx.course.enrollment.upgrade.succeeded"),
    ("browser", "edx.course.enrollment.upgrade_clicked"),
    ("browser", "problem_check"), ("browser", "problem_save"),
    ("browser", "problem_reset"),
    // every payload field has a default (notes/fields/events.py:55-63), so
    // an arbitrary object conforms (extra keys are ignored, pydantic default)
    ("browser", "edx.course.student_notes.notes_page_viewed"))

  /** Server families whose envelope requires `page == "x_module"`
    * (problem_interaction / open_response_assessment statements). */
  val xModulePage: Set[String] =
    rules.collect { case (("server", t), r) if r.page == PageXModule => t }.toSet

  /** Families requiring a context.mode literal (enrollment upgrades). */
  val modeRequired: Map[(String, String), String] = Map(
    ("browser", "edx.course.enrollment.upgrade_clicked") -> "audit",
    ("server", "edx.course.enrollment.upgrade.succeeded") -> "verified")

  private val SessionRe = Pattern.compile("^([a-f0-9]{32})?$")
  private val PageUrlRe = Pattern.compile(HttpRe)

  /** Does this rule's payload check need the parsed event node? */
  private def needsNode(rule: Rule): Boolean = rule.payload match {
    case JsonObj(_) | JsonArr(_) => true
    case _ => false
  }

  /** Full per-model check: envelope page/session/name/context.mode rules +
    * the exact payload rule, with the payload node parsed by the CALLER —
    * the verdict path parses it once and shares it with the convert-field
    * extraction. */
  private def validRule(rule: Rule, source: String, ctx: Ctx,
                        node: JsonNode): Boolean = {
    // envelope constraints
    val pageOk = rule.page match {
      case PageNull => ctx.page == null
      case PageXModule => ctx.page == "x_module"
      case PageUrl => ctx.page != null && PageUrlRe.matcher(ctx.page).matches()
    }
    if (!pageOk) return false
    // session: md5 hex or "" — browser envelope only (browser.py:33-35)
    if (source == "browser" &&
        (ctx.session == null || !SessionRe.matcher(ctx.session).matches()))
      return false
    if (rule.names != null && (ctx.name == null || !rule.names(ctx.name)))
      return false
    if (rule.modes != null && (ctx.mode == null || !rule.modes(ctx.mode)))
      return false

    rule.payload match {
      case NoEvent => true
      case AnyStr => ctx.event != null
      case LiteralStr(v) => ctx.event == v
      case JsonObj(p) => node != null && node.isObject && p(node)
      case JsonArr(each) =>
        node != null && node.isArray && {
          val it = node.elements(); var ok = true
          while (ok && it.hasNext) ok = each(it.next())
          ok
        }
    }
  }

  // ---------- whole-row verdict (single-parse fast path) -------------------

  // status protocol (mirrored by graft.operators.Validate's constants)
  final val StatusOk = "ok"
  final val StatusInvalidJson = "invalid_json"
  final val StatusUnknown = "unknown"
  final val StatusInvalidModel = "invalid_model"

  final val NoTs = Long.MinValue

  /** Spark-cast-compatible-enough timestamp parse for the envelope `time`
    * field → epoch micros, or [[NoTs]]. Accepts ISO-8601 with offset
    * (the tracking-log wire format), ISO local (UTC), and the
    * space-separated SQL form.
    *
    * The wire layout `yyyy-MM-ddTHH:mm:ss[.f{1,6}][Z|±HH:MM]` takes a
    * manual digit-scan fast path: `OffsetDateTime.parse` costs ~1.2 µs of
    * the verdict's ~8 µs row budget (measured; BASELINE.md, "Map-path parse
    * audit") — the formatter infrastructure, not the arithmetic. The fast path feeds
    * `LocalDateTime.of` (which still validates month/day ranges) and falls
    * back to the formatter chain on ANY shape surprise, so accepted inputs
    * and produced micros are unchanged (PropertySpec fuzzes the
    * equivalence). */
  def parseTsMicros(s: String): Long = {
    if (s == null || s.isEmpty) return NoTs
    val fast = parseTsFast(s)
    if (fast != NoTs) return fast
    parseTsSlow(s)
  }

  /** Digit-scan fast path; NoTs = "not this shape, use the formatters". */
  private def parseTsFast(s: String): Long = {
    val len = s.length
    if (len < 19 || s.charAt(4) != '-' || s.charAt(7) != '-' ||
        s.charAt(10) != 'T' || s.charAt(13) != ':' || s.charAt(16) != ':')
      return NoTs
    def d2(i: Int): Int = {
      val a = s.charAt(i) - '0'; val b = s.charAt(i + 1) - '0'
      if (a < 0 || a > 9 || b < 0 || b > 9) -1 else a * 10 + b
    }
    val y = { val hi = d2(0); val lo = d2(2); if (hi < 0 || lo < 0) return NoTs; hi * 100 + lo }
    val mo = d2(5); val day = d2(8); val h = d2(11); val mi = d2(14); val se = d2(17)
    if (mo < 0 || day < 0 || h < 0 || mi < 0 || se < 0) return NoTs
    var i = 19
    var micros = 0L
    if (i < len && s.charAt(i) == '.') {
      i += 1
      val fs = i
      var f = 0L
      while (i < len && s.charAt(i) >= '0' && s.charAt(i) <= '9') {
        f = f * 10 + (s.charAt(i) - '0'); i += 1
      }
      val nd = i - fs
      if (nd < 1 || nd > 6) return NoTs
      micros = f * math.pow(10, 6 - nd).toLong
    }
    var offSec = 0
    if (i == len) offSec = 0 // local, treated as UTC (formatter path parity)
    else if (i == len - 1 && s.charAt(i) == 'Z') offSec = 0
    else if (i == len - 6 && (s.charAt(i) == '+' || s.charAt(i) == '-') &&
        s.charAt(i + 3) == ':') {
      val oh = d2(i + 1); val om = d2(i + 4)
      // ZoneOffset's domain: minutes < 60, total within ±18:00 — an
      // out-of-range offset must fall through to the formatters (which
      // reject it → NoTs), not compute a fabricated epoch
      if (oh < 0 || om < 0 || om > 59 || oh * 3600 + om * 60 > 18 * 3600)
        return NoTs
      offSec = (oh * 3600 + om * 60) * (if (s.charAt(i) == '+') 1 else -1)
    } else return NoTs
    try {
      val ldt = java.time.LocalDateTime.of(y, mo, day, h, mi, se)
      (ldt.toEpochSecond(java.time.ZoneOffset.UTC) - offSec) * 1000000L + micros
    } catch { case _: Exception => NoTs } // out-of-range date → formatters decide
  }

  private def parseTsSlow(s: String): Long = {
    try {
      val odt = java.time.OffsetDateTime.parse(s)
      odt.toEpochSecond * 1000000L + odt.getNano / 1000L
    } catch { case _: Exception =>
      try {
        val ldt = java.time.LocalDateTime.parse(s)
        ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + ldt.getNano / 1000L
      } catch { case _: Exception =>
        try {
          // one µs-conversion definition repo-wide (pre-1970 semantics
          // differ between truncating getTime/1000 and the floorDiv form)
          graft.streaming.Horizon.micros(java.sql.Timestamp.valueOf(s))
        } catch { case _: Exception => NoTs }
      }
    }
  }

  private def asString(v: JsonNode): String =
    if (v == null || v.isNull) null
    else if (v.isTextual) v.asText
    else v.toString // objects/arrays/numbers normalized like Spark's parser

  private val usernameOk: String => Boolean =
    u => u != null && (u.isEmpty || (u.length >= 2 && u.length <= 30))
  private val Ipv4Re = Pattern.compile("^([0-9]{1,3}\\.){3}[0-9]{1,3}$")
  private val CourseRe = Pattern.compile(CourseIdRe)
  private val IntRe = Pattern.compile("^-?[0-9]+$")

  /** The one-parse row verdict, carrying every envelope field the convert
    * stage consumes — the verdict parse IS the envelope parse, so the
    * production pipeline never runs a second one. */
  final case class Verdict(status: String, model: String, tsMicros: Long,
                           time: String = null, event: String = null,
                           eventType: String = null, session: String = null,
                           agent: String = null, page: String = null,
                           userId: String = null, courseId: String = null,
                           evVideoId: String = null,
                           evCurrentTime: java.lang.Double = null,
                           evOldTime: java.lang.Double = null,
                           evNewTime: java.lang.Double = null,
                           evCourseId: String = null)

  /** One-parse row verdict. The entire validate stage — envelope presence +
    * formats, selector, per-model payload and envelope rules, event-time
    * parse — from ONE Jackson parse of the raw line. This exists because
    * Catalyst's predicate pushdown substitutes a projected status column
    * into the filter condition, re-evaluating every referenced
    * subexpression: with the verdict as a single expression the
    * substitution duplicates one parse, not ten (measured 27× row cost on
    * the r1-shaped plan). */
  def verdict(raw: String): Verdict = {
    val root = parse(raw)
    if (root == null || !root.isObject)
      return Verdict(StatusInvalidJson, null, NoTs)
    val username = asString(g(root, "username"))
    val src = asString(g(root, "event_source"))
    val typ = asString(g(root, "event_type"))
    val time = asString(g(root, "time"))
    val ctxNode = g(root, "context")
    if (username == null || src == null || typ == null || time == null ||
        ctxNode == null || !ctxNode.isObject)
      return Verdict(StatusInvalidJson, null, NoTs)
    val ts = parseTsMicros(time)
    if (ts == NoTs) return Verdict(StatusInvalidJson, null, NoTs)

    val path = asString(g(ctxNode, "path"))
    val model =
      if (src == "server" && typ == path) "server"
      else if (rules.contains((src, typ))) typ
      else null
    // payload-field extraction rides the SAME parsed node the payload
    // validation consumes (one parse feeds both) — the convert stage's two
    // from_json(event) re-parses per row are gone. Defined for validated
    // rows: on a type-broken payload the row never reaches convert, so the
    // from_json row-level-null nuance cannot be observed downstream.
    def pStr(node: JsonNode, f: String): String =
      if (node == null || !node.isObject) null else asString(g(node, f))
    def pDbl(node: JsonNode, f: String): java.lang.Double =
      if (node == null || !node.isObject) null
      else { val v = g(node, f); if (v == null || !v.isNumber) null else v.asDouble() }
    def fields(status: String, model: String, node: JsonNode = null) =
      Verdict(status, model, ts,
        time = time, event = asString(g(root, "event")), eventType = typ,
        session = asString(g(root, "session")), agent = asString(g(root, "agent")),
        page = asString(g(root, "page")), userId = asString(g(ctxNode, "user_id")),
        courseId = asString(g(ctxNode, "course_id")),
        evVideoId = pStr(node, "id"),
        evCurrentTime = pDbl(node, "currentTime"),
        evOldTime = pDbl(node, "old_time"),
        evNewTime = pDbl(node, "new_time"),
        evCourseId = pStr(node, "course_id"))
    if (model == null) return fields(StatusUnknown, null)

    // envelope FORMAT constraints (base.py:160-169, BaseContextField:89-94)
    val ip = asString(g(root, "ip"))
    val referer = asString(g(root, "referer"))
    val courseId = asString(g(ctxNode, "course_id"))
    val userId = g(ctxNode, "user_id")
    val formatOk = usernameOk(username) &&
      (ip == null || ip.isEmpty || Ipv4Re.matcher(ip).matches()) &&
      (referer == null || referer.isEmpty || referer.startsWith("http://") ||
        referer.startsWith("https://")) &&
      (courseId == null || CourseRe.matcher(courseId).matches()) &&
      (userId == null || userId.isNull || userId.isIntegralNumber ||
        (userId.isTextual && (userId.asText.isEmpty ||
          IntRe.matcher(userId.asText).matches())))
    val ctx = Ctx(
      event = asString(g(root, "event")),
      name = asString(g(root, "name")),
      page = asString(g(root, "page")),
      session = asString(g(root, "session")),
      mode = asString(g(ctxNode, "mode")))
    val rule = rules.getOrElse((src, model), null)
    // short-circuit BEFORE the payload parse: format-invalid rows must not
    // pay a Jackson parse they previously skipped (review r4 #6)
    if (!formatOk || rule == null) return fields(StatusInvalidModel, model)
    val node = if (needsNode(rule)) parse(ctx.event) else null
    if (!validRule(rule, src, ctx, node)) fields(StatusInvalidModel, model, node)
    else fields(StatusOk, model, node)
  }

  /** Static entry point for generated code: verdict as an InternalRow
    * matching [[EdxRowValidate.schema]]. */
  def verdictRow(raw: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val v = if (raw == null) Verdict(StatusInvalidJson, null, NoTs)
            else verdict(raw.toString)
    def u(s: String) =
      if (s == null) null else org.apache.spark.unsafe.types.UTF8String.fromString(s)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      u(v.status), u(v.model),
      if (v.tsMicros == NoTs) null else java.lang.Long.valueOf(v.tsMicros),
      u(v.time), u(v.event), u(v.eventType), u(v.session), u(v.agent),
      u(v.page), u(v.userId), u(v.courseId),
      u(v.evVideoId), v.evCurrentTime, v.evOldTime, v.evNewTime,
      u(v.evCourseId)))
  }

}

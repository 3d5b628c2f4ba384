package graft.functions

/** Snowball stemmers, implemented from M.F. Porter's PUBLISHED algorithm
  * descriptions (the Snowball project, snowballstem.org — public
  * algorithms; the English one is "Porter2"). This is the behavior behind
  * the reference's word_stem (reference: presto-main/.../operator/scalar/
  * WordStemFunction.java:56-93 maps ISO-639-1 codes to org.tartarus
  * stemmers and uses the ENGLISH one for the 1-argument form — so
  * word_stem('generally') is 'general', not Porter-1980's 'gener').
  *
  * Implemented languages: en, fr, es, pt, it, de (the German2 variant the
  * reference maps 'de' to — ae/oe/ue recognized as umlaut spellings),
  * the second tier da, fi, nl, no, ru, sv (round 15), and ro (round
  * 16). The reference's remaining seven languages (ca, eu, hu, hy, ir,
  * lt, tr) raise loudly (README divergence matrix carries the written
  * adjudication) rather than stem wrongly; an UNKNOWN code raises the
  * reference's own "Unknown stemmer language" error.
  *
  * Shared conventions: R1 = region after the first non-vowel following a
  * vowel; R2 = R1's R1; RV is per-language. Suffix checks are "in Rx"
  * when the suffix START index ≥ the region start.
  */
/** word_stem(word[, lang]) as a native expression so ONE registered name
  * serves both arities, like the reference's overloads
  * (WordStemFunction.java:80 one-arg English / :87 two-arg). */
case class WordStem(
    left: org.apache.spark.sql.catalyst.expressions.Expression,
    right: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._
  override def dataType: DataType = StringType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (children.forall(_.dataType == StringType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"word_stem expects (string[, string]), got " +
          children.map(_.dataType.catalogString).mkString(", "))
  override protected def nullSafeEval(w: Any, l: Any): Any =
    org.apache.spark.unsafe.types.UTF8String.fromString(
      Snowball.stem(w.toString, l.toString))
  override protected def withNewChildrenInternal(
      newLeft: org.apache.spark.sql.catalyst.expressions.Expression,
      newRight: org.apache.spark.sql.catalyst.expressions.Expression)
      : org.apache.spark.sql.catalyst.expressions.Expression =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "word_stem"
}

object Snowball {

  /** word_stem(word[, lang]): the reference's one-arg form is the
    * ENGLISH Snowball stemmer, not Porter 1980. */
  lazy val functions: Seq[graft.plans.FunctionEntry] = Seq(
    graft.plans.FunctionEntry.native("word_stem", 1, 2) {
      case Seq(w) =>
        WordStem(w, org.apache.spark.sql.catalyst.expressions.Literal("en"))
      case Seq(w, l) => WordStem(w, l)
    })

  private val referenceLanguages = Set(
    "ca", "da", "de", "en", "es", "eu", "fi", "fr", "hu", "hy", "ir",
    "it", "lt", "nl", "no", "pt", "ro", "ru", "sv", "tr")

  def stem(word: String, language: String): String = {
    if (word == null || language == null) return null
    language match {
      case "en" => English.stem(word)
      case "fr" => French.stem(word)
      case "es" => Spanish.stem(word)
      case "pt" => Portuguese.stem(word)
      case "it" => Italian.stem(word)
      case "de" => German.stem(word)
      case "sv" => Swedish.stem(word)
      case "no" => Norwegian.stem(word)
      case "da" => Danish.stem(word)
      case "nl" => Dutch.stem(word)
      case "ru" => Russian.stem(word)
      case "fi" => Finnish.stem(word)
      case "ro" => Romanian.stem(word)
      case l if referenceLanguages(l) =>
        throw new UnsupportedOperationException(
          s"word_stem language '$l' is not implemented in this engine " +
            "(implemented: da, de, en, es, fi, fr, it, nl, no, pt, ro, " +
            "ru, sv)")
      case l =>
        // reference error text (WordStemFunction.java:98)
        throw new IllegalArgumentException(s"Unknown stemmer language: $l")
    }
  }

  /** Region start: index after the first non-vowel that follows a vowel
    * within [from, n); n when absent. */
  private def regionAfterVC(w: String, from: Int, isV: Char => Boolean): Int = {
    var i = from
    val n = w.length
    while (i < n && !isV(w(i))) i += 1
    while (i < n && isV(w(i))) i += 1
    // i now sits on the first non-vowel after the vowel run (or n)
    if (i < n) i + 1 else n
  }

  /** First match wins among suffixes pre-sorted LONGEST FIRST; Snowball
    * `among` semantics — the longest matching suffix is selected and THEN
    * its condition runs; a failed condition means NO action (no fallback
    * to a shorter suffix). */
  private def longestSuffix(w: String, sufs: Seq[String]): Option[String] =
    sufs.sortBy(-_.length).find(w.endsWith)

  /** Longest suffix (table pre-sorted longest-first) whose match fits
    * entirely within the region — Snowball `setlimit tomark pX for
    * ([substring])` semantics (the Scandinavian, Finnish and Russian
    * stemmers): a pattern reaching past the region start CANNOT match,
    * so shorter candidates are still tried. (The Dutch/German family
    * instead tests the region inside the among action — longest first,
    * then test, no fallback — which is what [[longestSuffix]] + an
    * explicit region check gives.) The tier-2 stemmers keep their
    * suffix tables as object-level sorted vals so the per-row hot path
    * allocates and sorts nothing. */
  private def firstFitIn(
      w: String, region: Int, sorted: Seq[String]): Option[String] =
    sorted.find(s => w.endsWith(s) && w.length - s.length >= region)

  // ==================================================================
  // English (Porter2) — snowballstem.org/algorithms/english/stemmer.html
  // ==================================================================
  object English {
    private def isV(c: Char): Boolean = "aeiouy".indexOf(c) >= 0

    private val exceptional = Map(
      "skis" -> "ski", "skies" -> "sky", "dying" -> "die", "lying" -> "lie",
      "tying" -> "tie", "idly" -> "idl", "gently" -> "gentl",
      "ugly" -> "ugli", "early" -> "earli", "only" -> "onli",
      "singly" -> "singl", "sky" -> "sky", "news" -> "news",
      "howe" -> "howe", "atlas" -> "atlas", "cosmos" -> "cosmos",
      "bias" -> "bias", "andes" -> "andes")
    private val exceptional1a = Set(
      "inning", "outing", "canning", "herring", "earring",
      "proceed", "exceed", "succeed")
    private val doubles = Set("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
    private val liEnding = "cdeghkmnrt"

    /** Ends in a short syllable: a vowel followed by a non-vowel other
      * than w/x/Y, preceded by a non-vowel; or a 2-letter word starting
      * vowel + non-vowel. */
    private def endsShortSyllable(w: String): Boolean = {
      val n = w.length
      if (n == 2) isV(w(0)) && !isV(w(1))
      else n >= 3 && !isV(w(n - 3)) && isV(w(n - 2)) && !isV(w(n - 1)) &&
        "wxY".indexOf(w(n - 1)) < 0
    }

    def stem(word0: String): String = {
      var w = word0
      if (w.startsWith("'")) w = w.substring(1)
      exceptional.get(w) match {
        case Some(e) => return e
        case None =>
      }
      if (w.length <= 2) return w
      // mark consonant-y: initial y or y after a vowel
      val sb = new StringBuilder(w)
      for (i <- 0 until sb.length)
        if (sb(i) == 'y' && (i == 0 || isV(sb(i - 1)))) sb(i) = 'Y'
      w = sb.toString

      // regions (gener/commun/arsen override R1 — spec's exceptional list)
      val r1 =
        Seq("gener", "commun", "arsen").find(w.startsWith) match {
          case Some(p) => p.length
          case None => regionAfterVC(w, 0, isV)
        }
      val r2 = regionAfterVC(w, math.min(r1, w.length), isV)

      // step 0: longest of 's' / 's / '
      Seq("'s'", "'s", "'").find(w.endsWith).foreach(s => w = w.dropRight(s.length))
      stemAfter0(w, r1, r2)
    }

    private def stemAfter0(word: String, r1: Int, r2: Int): String = {
      var w = word
      def inR1(suf: String): Boolean = w.length - suf.length >= r1
      def inR2(suf: String): Boolean = w.length - suf.length >= r2
      def unY(s: String): String = s.replace('Y', 'y')

      // step 1a
      if (w.endsWith("sses")) w = w.dropRight(2)
      else if (w.endsWith("ied") || w.endsWith("ies"))
        w = if (w.length - 3 > 1) w.dropRight(2) else w.dropRight(1)
      else if (w.endsWith("ss") || w.endsWith("us")) ()
      else if (w.endsWith("s") &&
          (0 until w.length - 2).exists(i => isV(w(i))))
        w = w.dropRight(1)
      if (exceptional1a(w)) return unY(w)

      // step 1b (longest-first)
      longestSuffix(w, Seq("eedly", "eed", "ingly", "edly", "ing", "ed")) match {
        case Some(suf @ ("eedly" | "eed")) =>
          if (inR1(suf)) w = w.dropRight(suf.length) + "ee"
        case Some(suf) =>
          val pre = w.dropRight(suf.length)
          if (pre.exists(isV)) {
            w = pre
            if (w.endsWith("at") || w.endsWith("bl") || w.endsWith("iz"))
              w += "e"
            else if (w.length >= 2 && doubles(w.takeRight(2)))
              w = w.dropRight(1)
            else if (r1 >= w.length && endsShortSyllable(w))
              w += "e"
          }
        case None =>
      }

      // step 1c: y → i after a non-vowel that is not the first letter
      if ((w.endsWith("y") || w.endsWith("Y")) && w.length > 2 &&
          !isV(w(w.length - 2)))
        w = w.dropRight(1) + "i"

      // step 2 (in R1)
      val step2 = Seq(
        "ization" -> "ize", "ational" -> "ate", "fulness" -> "ful",
        "ousness" -> "ous", "iveness" -> "ive", "tional" -> "tion",
        "biliti" -> "ble", "lessli" -> "less", "entli" -> "ent",
        "ation" -> "ate", "alism" -> "al", "aliti" -> "al",
        "ousli" -> "ous", "iviti" -> "ive", "fulli" -> "ful",
        "enci" -> "ence", "anci" -> "ance", "abli" -> "able",
        "izer" -> "ize", "ator" -> "ate", "alli" -> "al",
        "bli" -> "ble", "ogi" -> "og", "li" -> "")
      longestSuffix(w, step2.map(_._1)) match {
        case Some(suf) if inR1(suf) =>
          val pre = w.dropRight(suf.length)
          suf match {
            case "ogi" => if (pre.endsWith("l")) w = pre + "og"
            case "li" => if (pre.nonEmpty && liEnding.indexOf(pre.last) >= 0) w = pre
            case _ => w = pre + step2.find(_._1 == suf).get._2
          }
        case _ =>
      }

      // step 3 (in R1; ative needs R2)
      val step3 = Seq(
        "ational" -> "ate", "tional" -> "tion", "alize" -> "al",
        "icate" -> "ic", "iciti" -> "ic", "ative" -> "", "ical" -> "ic",
        "ness" -> "", "ful" -> "")
      longestSuffix(w, step3.map(_._1)) match {
        case Some(suf) if inR1(suf) =>
          if (suf != "ative" || inR2(suf))
            w = w.dropRight(suf.length) + step3.find(_._1 == suf).get._2
        case _ =>
      }

      // step 4 (in R2)
      val step4 = Seq(
        "ement", "ance", "ence", "able", "ible", "ment", "ant", "ent",
        "ism", "ate", "iti", "ous", "ive", "ize", "ion", "al", "er", "ic")
      longestSuffix(w, step4) match {
        case Some(suf) if inR2(suf) =>
          val pre = w.dropRight(suf.length)
          if (suf != "ion" || (pre.nonEmpty && "st".indexOf(pre.last) >= 0))
            w = pre
        case _ =>
      }

      // step 5
      if (w.endsWith("e") &&
          (inR2("e") || (inR1("e") && !endsShortSyllable(w.dropRight(1)))))
        w = w.dropRight(1)
      else if (w.endsWith("l") && inR2("l") && w.length >= 2 &&
          w(w.length - 2) == 'l')
        w = w.dropRight(1)

      unY(w)
    }
  }

  // ==================================================================
  // French — snowballstem.org/algorithms/french/stemmer.html
  // ==================================================================
  object French {
    private val vowels = "aeiouyâàëéêèïîôûù"
    private def isV(c: Char): Boolean = vowels.indexOf(c) >= 0

    def stem(word0: String): String = {
      // prelude: u/i between vowels, y next to a vowel, u after q become
      // NON-vowel markers (left-to-right over the evolving string)
      val sb = new StringBuilder(word0)
      for (i <- 0 until sb.length) {
        val c = sb(i)
        if ((c == 'u' || c == 'i') && i > 0 && i + 1 < sb.length &&
            isV(sb(i - 1)) && isV(sb(i + 1)))
          sb(i) = c.toUpper
        else if (c == 'y' && ((i > 0 && isV(sb(i - 1))) ||
            (i + 1 < sb.length && isV(sb(i + 1)))))
          sb(i) = 'Y'
        else if (c == 'u' && i > 0 && sb(i - 1) == 'q')
          sb(i) = 'U'
      }
      var w = sb.toString
      val n = w.length

      // RV: after the third letter when the word starts with two vowels
      // or with par/col/tap; else after the first vowel not at position 0
      val rv: Int =
        if (n >= 3 && isV(w(0)) && isV(w(1))) 3
        else if (Seq("par", "col", "tap").exists(w.startsWith)) 3
        else {
          var i = 1
          while (i < n && !isV(w(i))) i += 1
          if (i < n) i + 1 else n
        }
      val r1 = regionAfterVC(w, 0, isV)
      val r2 = regionAfterVC(w, r1, isV)
      def in(region: Int, suf: String): Boolean = w.length - suf.length >= region

      var step1Changed = false
      var mentFound = false

      // ---- step 1: standard suffix removal (longest among ALL) ----
      val all1 = Seq(
        "issements", "issement", "atrices", "amment", "emment", "ements",
        "atrice", "logies", "usions", "utions", "ateurs", "ations",
        "ements", "ités", "ances", "iqUes", "ismes", "ables", "istes",
        "ement", "euses", "ateur", "ation", "logie", "usion", "ution",
        "ences", "ments", "ance", "iqUe", "isme", "able", "iste", "ence",
        "ité", "ives", "eaux", "euse", "ment", "eux", "ive", "ifs", "aux", "if")
      longestSuffix(w, all1) match {
        case Some(suf) =>
          val pre = w.dropRight(suf.length)
          suf match {
            case "ance" | "iqUe" | "isme" | "able" | "iste" | "eux" |
                 "ances" | "iqUes" | "ismes" | "ables" | "istes" =>
              if (in(r2, suf)) { w = pre; step1Changed = true }
            case "atrice" | "ateur" | "ation" | "atrices" | "ateurs" | "ations" =>
              if (in(r2, suf)) {
                w = pre; step1Changed = true
                if (w.endsWith("ic")) {
                  if (in(r2, "ic")) w = w.dropRight(2)
                  else w = w.dropRight(2) + "iqU"
                }
              }
            case "logie" | "logies" =>
              if (in(r2, suf)) { w = pre + "log"; step1Changed = true }
            case "usion" | "ution" | "usions" | "utions" =>
              if (in(r2, suf)) { w = pre + "u"; step1Changed = true }
            case "ence" | "ences" =>
              if (in(r2, suf)) { w = pre + "ent"; step1Changed = true }
            case "ement" | "ements" =>
              if (in(rv, suf)) { w = pre; step1Changed = true }
              if (step1Changed) {
                if (w.endsWith("iv") && in(r2, "iv")) {
                  w = w.dropRight(2)
                  if (w.endsWith("at") && in(r2, "at")) w = w.dropRight(2)
                } else if (w.endsWith("eus")) {
                  if (in(r2, "eus")) w = w.dropRight(3)
                  else if (in(r1, "eus")) w = w.dropRight(3) + "eux"
                } else if (w.endsWith("abl") && in(r2, "abl"))
                  w = w.dropRight(3)
                else if (w.endsWith("iqU") && in(r2, "iqU"))
                  w = w.dropRight(3)
                else if ((w.endsWith("ièr") || w.endsWith("Ièr")) &&
                    w.length - 3 >= rv)
                  w = w.dropRight(3) + "i"
              }
            case "ité" | "ités" =>
              if (in(r2, suf)) {
                w = pre; step1Changed = true
                if (w.endsWith("abil")) {
                  if (in(r2, "abil")) w = w.dropRight(4)
                  else w = w.dropRight(4) + "abl"
                } else if (w.endsWith("ic")) {
                  if (in(r2, "ic")) w = w.dropRight(2)
                  else w = w.dropRight(2) + "iqU"
                } else if (w.endsWith("iv") && in(r2, "iv"))
                  w = w.dropRight(2)
              }
            case "if" | "ive" | "ifs" | "ives" =>
              if (in(r2, suf)) {
                w = pre; step1Changed = true
                if (w.endsWith("at") && in(r2, "at")) {
                  w = w.dropRight(2)
                  if (w.endsWith("ic")) {
                    if (in(r2, "ic")) w = w.dropRight(2)
                    else w = w.dropRight(2) + "iqU"
                  }
                }
              }
            case "eaux" => w = pre + "eau"; step1Changed = true
            case "aux" =>
              if (in(r1, suf)) { w = pre + "al"; step1Changed = true }
            case "euse" | "euses" =>
              if (in(r2, suf)) { w = pre; step1Changed = true }
              else if (in(r1, suf)) { w = pre + "eux"; step1Changed = true }
            case "issement" | "issements" =>
              if (in(r1, suf) && pre.nonEmpty && !isV(pre.last)) {
                w = pre; step1Changed = true
              }
            case "amment" =>
              if (in(rv, suf)) { w = pre + "ant"; step1Changed = true }
              mentFound = true
            case "emment" =>
              if (in(rv, suf)) { w = pre + "ent"; step1Changed = true }
              mentFound = true
            case "ment" | "ments" =>
              if (pre.nonEmpty && isV(pre.last) && pre.length - 1 >= rv) {
                w = pre; step1Changed = true
              }
              mentFound = true
            case _ =>
          }
        case None =>
      }

      var altered = step1Changed
      // ---- steps 2a/2b: verb suffixes (in RV) ----
      if (!step1Changed || mentFound) {
        val i2a = Seq(
          "issaIent", "issantes", "iraIent", "issante", "issants", "issions",
          "irions", "issais", "issait", "issant", "issent", "issiez",
          "issons", "irais", "irait", "irent", "iriez", "irons", "iront",
          "isses", "issez", "îmes", "îtes", "irai", "iras",
          "irez", "isse", "ies", "ira", "ît", "ie", "ir", "is",
          "it", "i")
        var did2a = false
        longestSuffix(w, i2a) match {
          case Some(suf) if in(rv, suf) && {
              val p = w.length - suf.length - 1
              p >= rv && p >= 0 && !isV(w(p)) } =>
            w = w.dropRight(suf.length); did2a = true; altered = true
          case _ =>
        }
        if (!did2a) {
          // step 2b
          val g2 = Seq( // é-rooted and er-rooted: plain delete in RV
            "eraIent", "erions", "èrent", "erais", "erait", "eriez",
            "erons", "eront", "erai", "eras", "erez", "ées", "era",
            "iez", "ée", "és", "er", "ez", "é")
          val g3 = Seq( // a-rooted: delete + a preceding e in RV
            "assions", "assent", "assiez", "âtes", "antes", "asses",
            "âmes", "ante", "ants", "asse", "aIent", "ais", "ait",
            "ant", "ât", "ai", "as", "a")
          longestSuffix(w, Seq("ions") ++ g2 ++ g3) match {
            case Some("ions") if in(r2, "ions") && in(rv, "ions") =>
              w = w.dropRight(4); altered = true
            case Some(suf) if g2.contains(suf) && in(rv, suf) =>
              w = w.dropRight(suf.length); altered = true
            case Some(suf) if g3.contains(suf) && in(rv, suf) =>
              w = w.dropRight(suf.length)
              altered = true
              if (w.endsWith("e") && w.length - 1 >= rv) w = w.dropRight(1)
            case _ =>
          }
        }
      }

      if (altered) {
        // step 3
        if (w.endsWith("Y")) w = w.dropRight(1) + "i"
        else if (w.endsWith("ç")) w = w.dropRight(1) + "c"
      } else {
        // step 4
        if (w.endsWith("s") && w.length >= 2 &&
            "aiouès".indexOf(w(w.length - 2)) < 0)
          w = w.dropRight(1)
        val s4 = Seq("ière", "Ière", "ion", "ier", "Ier", "e", "ë")
        longestSuffix(w, s4) match {
          case Some("ion")
              if in(r2, "ion") && in(rv, "ion") && {
                val p = w.length - 4
                p >= rv && p >= 0 && (w(p) == 's' || w(p) == 't') } =>
            w = w.dropRight(3)
          case Some(suf @ ("ier" | "Ier" | "ière" | "Ière"))
              if in(rv, suf) =>
            w = w.dropRight(suf.length) + "i"
          case Some("e") if in(rv, "e") => w = w.dropRight(1)
          case Some("ë") if in(rv, "ë") && w.endsWith("guë") =>
            w = w.dropRight(1)
          case _ =>
        }
      }

      // step 5: undouble
      for (d <- Seq("enn", "onn", "ett", "ell", "eill"))
        if (w.endsWith(d)) { w = w.dropRight(1); }
      // step 6: un-accent é/è before a final run of non-vowels
      var i = w.length - 1
      while (i >= 0 && !isV(w(i))) i -= 1
      if (i >= 0 && i < w.length - 1 &&
          (w(i) == 'é' || w(i) == 'è'))
        w = w.substring(0, i) + "e" + w.substring(i + 1)

      w.map {
        case 'I' => 'i'; case 'U' => 'u'; case 'Y' => 'y'; case c => c
      }
    }
  }

  // ==================================================================
  // Spanish — snowballstem.org/algorithms/spanish/stemmer.html
  // ==================================================================
  object Spanish {
    private val vowels = "aeiouáéíóúü"
    private def isV(c: Char): Boolean = vowels.indexOf(c) >= 0

    /** RV: if the second letter is a consonant, RV is after the next
      * vowel; if the first two letters are vowels, after the next
      * consonant; else (consonant-vowel) after the third letter; else
      * the end of the word. */
    private def rvOf(w: String): Int = {
      val n = w.length
      if (n < 3) return n
      if (!isV(w(1))) {
        var i = 2; while (i < n && !isV(w(i))) i += 1
        if (i < n) i + 1 else n
      } else if (isV(w(0)) && isV(w(1))) {
        var i = 2; while (i < n && isV(w(i))) i += 1
        if (i < n) i + 1 else n
      } else 3
    }

    private def unaccent(c: Char): Char = c match {
      case 'á' => 'a'; case 'é' => 'e'; case 'í' => 'i'
      case 'ó' => 'o'; case 'ú' => 'u'; case c0 => c0
    }

    def stem(word0: String): String = {
      var w = word0
      val rv = rvOf(w)
      val r1 = regionAfterVC(w, 0, isV)
      val r2 = regionAfterVC(w, r1, isV)
      def in(region: Int, suf: String): Boolean = w.length - suf.length >= region

      // step 0: attached pronouns after a gerund/infinitive stem in RV
      val pronouns = Seq("selas", "selos", "sela", "selo", "las", "les",
        "los", "nos", "me", "se", "la", "le", "lo")
      longestSuffix(w, pronouns) match {
        case Some(p) =>
          val pre = w.dropRight(p.length)
          val accented = Seq("iéndo", "ándo", "ár", "ér", "ír")
          val plain = Seq("iendo", "ando", "ar", "er", "ir")
          accented.find(pre.endsWith) match {
            case Some(a) if pre.length - a.length >= rv =>
              w = pre.map(unaccent)
            case _ =>
              plain.find(pre.endsWith) match {
                case Some(a) if pre.length - a.length >= rv => w = pre
                case _ =>
                  if (pre.endsWith("yendo") && pre.length >= 6 &&
                      pre(pre.length - 6) == 'u')
                    w = pre
              }
          }
        case None =>
      }

      var changed1 = false
      // step 1: standard suffixes
      val del2 = Seq("amientos", "imientos", "amiento", "imiento",
        "anzas", "ismos", "ables", "ibles", "istas", "anza", "icos",
        "icas", "ismo", "able", "ible", "ista", "osos", "osas",
        "ico", "ica", "oso", "osa")
      val ador = Seq("aciones", "adoras", "adores", "ancias", "adora",
        "ación", "antes", "ancia", "ador", "ante")
      val all1 = del2 ++ ador ++ Seq("logías", "logía",
        "uciones", "ución", "encias", "encia", "amente", "mente",
        "idades", "idad", "ivas", "ivos", "iva", "ivo")
      longestSuffix(w, all1) match {
        case Some(suf) =>
          val pre = w.dropRight(suf.length)
          def deleteIC(): Unit =
            if (w.endsWith("ic") && in(r2, "ic")) w = w.dropRight(2)
          if (del2.contains(suf)) {
            if (in(r2, suf)) { w = pre; changed1 = true }
          } else if (ador.contains(suf)) {
            if (in(r2, suf)) { w = pre; changed1 = true; deleteIC() }
          } else if (suf == "logías" || suf == "logía") {
            if (in(r2, suf)) { w = pre + "log"; changed1 = true }
          } else if (suf == "uciones" || suf == "ución") {
            if (in(r2, suf)) { w = pre + "u"; changed1 = true }
          } else if (suf == "encias" || suf == "encia") {
            if (in(r2, suf)) { w = pre + "ente"; changed1 = true }
          } else if (suf == "amente") {
            if (in(r1, suf)) {
              w = pre; changed1 = true
              if (w.endsWith("iv") && in(r2, "iv")) {
                w = w.dropRight(2)
                if (w.endsWith("at") && in(r2, "at")) w = w.dropRight(2)
              } else for (x <- Seq("os", "ic", "ad"))
                if (w.endsWith(x) && in(r2, x)) w = w.dropRight(2)
            }
          } else if (suf == "mente") {
            if (in(r2, suf)) {
              w = pre; changed1 = true
              for (x <- Seq("ante", "able", "ible"))
                if (w.endsWith(x) && in(r2, x)) w = w.dropRight(x.length)
            }
          } else if (suf == "idades" || suf == "idad") {
            if (in(r2, suf)) {
              w = pre; changed1 = true
              for (x <- Seq("abil", "ic", "iv"))
                if (w.endsWith(x) && in(r2, x)) w = w.dropRight(x.length)
            }
          } else { // iva ivo ivas ivos
            if (in(r2, suf)) {
              w = pre; changed1 = true
              if (w.endsWith("at") && in(r2, "at")) w = w.dropRight(2)
            }
          }
        case None =>
      }

      if (!changed1) {
        // step 2a: y-verbs preceded by u
        val ys = Seq("yamos", "yeron", "yendo", "yais", "yan", "yen",
          "yas", "yes", "ya", "ye", "yo", "yó")
        var did2a = false
        longestSuffix(w, ys) match {
          case Some(suf) if in(rv, suf) && {
              val p = w.length - suf.length - 1
              p >= 0 && w(p) == 'u' } =>
            w = w.dropRight(suf.length); did2a = true
          case _ =>
        }
        if (!did2a) {
          // step 2b: other verb suffixes (in RV)
          val gu = Seq("emos", "éis", "en", "es") // delete; drop u of a preceding gu
          val big = Seq(
            "aríamos", "eríamos", "iríamos", "iéramos",
            "iésemos", "aríais", "aremos", "eríais",
            "eremos", "iríais", "iremos", "ierais", "ieseis",
            "asteis", "isteis", "ábamos", "áramos", "ásemos",
            "arían", "arías", "aréis", "erían",
            "erías", "eréis", "irían", "irías",
            "iréis", "ieran", "iesen", "ieron", "iendo", "ieras",
            "ieses", "abais", "arais", "aseis", "íamos", "arán",
            "arás", "aría", "erán", "erás",
            "ería", "irán", "irás", "iría", "iera",
            "iese", "aste", "iste", "aban", "aran", "asen", "aron",
            "ando", "abas", "adas", "idas", "aras", "ases", "íais",
            "ados", "idos", "amos", "imos", "ará", "aré",
            "erá", "eré", "irá", "iré", "aba",
            "ada", "ida", "ara", "ase", "ían", "ado", "ido",
            "ías", "áis", "éis", "ía", "ad", "ed",
            "id", "an", "ió", "ar", "er", "ir", "as", "ís",
            "en", "es")
          longestSuffix(w, gu ++ big) match {
            case Some(suf) if in(rv, suf) =>
              w = w.dropRight(suf.length)
              if (gu.contains(suf) && w.endsWith("gu")) w = w.dropRight(1)
            case _ =>
          }
        }
      }

      // step 3: residual suffix
      val resid = Seq("os", "a", "o", "á", "í", "ó")
      longestSuffix(w, resid ++ Seq("e", "é")) match {
        case Some(suf @ ("e" | "é")) if in(rv, suf) =>
          w = w.dropRight(1)
          if (w.endsWith("gu") && w.length - 1 >= rv) w = w.dropRight(1)
        case Some(suf) if resid.contains(suf) && in(rv, suf) =>
          w = w.dropRight(suf.length)
        case _ =>
      }

      w.map(unaccent)
    }
  }

  // ==================================================================
  // Portuguese — snowballstem.org/algorithms/portuguese/stemmer.html
  // ==================================================================
  object Portuguese {
    private val vowels = "aeiouáéíóúâêô"
    private def isV(c: Char): Boolean = vowels.indexOf(c) >= 0

    private def rvOf(w: String): Int = {
      val n = w.length
      if (n < 3) return n
      if (!isV(w(1))) {
        var i = 2; while (i < n && !isV(w(i))) i += 1
        if (i < n) i + 1 else n
      } else if (isV(w(0)) && isV(w(1))) {
        var i = 2; while (i < n && isV(w(i))) i += 1
        if (i < n) i + 1 else n
      } else 3
    }

    def stem(word0: String): String = {
      // prelude: nasalized vowels get marker forms so suffix tables can
      // spell them (ã → a~, õ → o~)
      var w = word0.replace("ã", "a~").replace("õ", "o~")
      val rv = rvOf(w)
      val r1 = regionAfterVC(w, 0, isV)
      val r2 = regionAfterVC(w, r1, isV)
      def in(region: Int, suf: String): Boolean = w.length - suf.length >= region

      var changed = false
      // step 1: standard suffixes
      val del2 = Seq("amentos", "imentos", "amento", "imento", "ezas",
        "icos", "icas", "ismos", "istas", "osos", "osas", "eza", "ico",
        "ica", "ismo", "ista", "oso", "osa", "ável", "ível")
      val ador = Seq("aço~es", "adoras", "adores", "aça~o",
        "adora", "antes", "ância", "ador", "ante")
      val all1 = del2 ++ ador ++ Seq("logias", "logia",
        "uço~es", "uça~o", "ências", "ência",
        "amente", "mente", "idades", "idade", "ivas", "ivos", "iva",
        "ivo", "iras", "ira")
      longestSuffix(w, all1) match {
        case Some(suf) =>
          val pre = w.dropRight(suf.length)
          if (del2.contains(suf)) {
            if (in(r2, suf)) { w = pre; changed = true }
          } else if (ador.contains(suf)) {
            if (in(r2, suf)) {
              w = pre; changed = true
              if (w.endsWith("ic") && in(r2, "ic")) w = w.dropRight(2)
            }
          } else if (suf == "logias" || suf == "logia") {
            if (in(r2, suf)) { w = pre + "log"; changed = true }
          } else if (suf == "uço~es" || suf == "uça~o") {
            if (in(r2, suf)) { w = pre + "u"; changed = true }
          } else if (suf == "ências" || suf == "ência") {
            if (in(r2, suf)) { w = pre + "ente"; changed = true }
          } else if (suf == "amente") {
            if (in(r1, suf)) {
              w = pre; changed = true
              if (w.endsWith("iv") && in(r2, "iv")) {
                w = w.dropRight(2)
                if (w.endsWith("at") && in(r2, "at")) w = w.dropRight(2)
              } else for (x <- Seq("os", "ic", "ad"))
                if (w.endsWith(x) && in(r2, x)) w = w.dropRight(2)
            }
          } else if (suf == "mente") {
            if (in(r2, suf)) {
              w = pre; changed = true
              for (x <- Seq("ante", "avel", "ível"))
                if (w.endsWith(x) && in(r2, x)) w = w.dropRight(x.length)
            }
          } else if (suf == "idades" || suf == "idade") {
            if (in(r2, suf)) {
              w = pre; changed = true
              for (x <- Seq("abil", "ic", "iv"))
                if (w.endsWith(x) && in(r2, x)) w = w.dropRight(x.length)
            }
          } else if (suf == "ivas" || suf == "ivos" || suf == "iva" || suf == "ivo") {
            if (in(r2, suf)) {
              w = pre; changed = true
              if (w.endsWith("at") && in(r2, "at")) w = w.dropRight(2)
            }
          } else { // ira / iras — replace with ir when in RV and after e
            if (in(rv, suf) && pre.endsWith("e")) {
              w = pre + "ir"
              changed = true
            }
          }
        case None =>
      }

      if (!changed) {
        // step 2: verb suffixes (in RV)
        val verbs = Seq(
          "aríamos", "eríamos", "iríamos", "ássemos",
          "êssemos", "íssemos", "aríeis", "eríeis",
          "iríeis", "ásseis", "ésseis", "ísseis",
          "áramos", "éramos", "íramos", "ávamos",
          "aremos", "eremos", "iremos", "ariam", "eriam", "iriam",
          "assem", "essem", "issem", "ara~o", "era~o", "ira~o", "arias",
          "erias", "irias", "ardes", "erdes", "irdes", "asses", "esses",
          "isses", "astes", "estes", "istes", "áreis", "areis",
          "éreis", "ereis", "íreis", "ireis", "áveis",
          "íamos", "armos", "ermos", "irmos", "aria", "eria",
          "iria", "asse", "esse", "isse", "aste", "este", "iste",
          "arei", "erei", "irei", "aram", "eram", "iram", "avam",
          "arem", "erem", "irem", "ando", "endo", "indo", "arão",
          "adas", "idas", "arás", "aras", "erás", "eras",
          "irás", "avas", "ares", "eres", "ires", "íeis",
          "ados", "idos", "ámos", "amos", "emos", "imos", "iras",
          "ada", "ida", "ará", "ara", "erá", "era", "irá",
          "ava", "iam", "ado", "ido", "ias", "ais", "eis", "ira",
          "ia", "ei", "am", "em", "ar", "er", "ir", "as",
          "es", "is", "eu", "iu", "ou")
        longestSuffix(w, verbs) match {
          case Some(suf) if in(rv, suf) =>
            w = w.dropRight(suf.length); changed = true
          case _ =>
        }
      }

      if (changed) {
        // step 3: delete i after c (in RV)
        if (w.endsWith("i") && w.length - 1 >= rv && w.length >= 2 &&
            w(w.length - 2) == 'c')
          w = w.dropRight(1)
      } else {
        // step 4: residual suffix
        val resid = Seq("os", "a", "i", "o", "á", "í", "ó")
        longestSuffix(w, resid) match {
          case Some(suf) if in(rv, suf) => w = w.dropRight(suf.length)
          case _ =>
        }
      }

      // step 5
      if ((w.endsWith("e") || w.endsWith("é") || w.endsWith("ê")) &&
          w.length - 1 >= rv) {
        w = w.dropRight(1)
        if ((w.endsWith("gu") || w.endsWith("ci")) && w.length - 1 >= rv)
          w = w.dropRight(1)
      } else if (w.endsWith("ç"))
        w = w.dropRight(1) + "c"

      w.replace("a~", "ã").replace("o~", "õ")
    }
  }

  // ==================================================================
  // Italian — snowballstem.org/algorithms/italian/stemmer.html
  // ==================================================================
  object Italian {
    private val vowels = "aeiouàèìòù"
    private def isV(c: Char): Boolean = vowels.indexOf(c) >= 0

    private def rvOf(w: String): Int = {
      val n = w.length
      if (n < 3) return n
      if (!isV(w(1))) {
        var i = 2; while (i < n && !isV(w(i))) i += 1
        if (i < n) i + 1 else n
      } else if (isV(w(0)) && isV(w(1))) {
        var i = 2; while (i < n && isV(w(i))) i += 1
        if (i < n) i + 1 else n
      } else 3
    }

    def stem(word0: String): String = {
      // prelude: acute → grave; i/u between vowels marked as consonants;
      // u after q marked
      val w0 = word0
        .replace('á', 'à').replace('é', 'è')
        .replace('í', 'ì').replace('ó', 'ò')
        .replace('ú', 'ù')
      val sb = new StringBuilder(w0)
      for (i <- 0 until sb.length) {
        val c = sb(i)
        if ((c == 'i' || c == 'u') && i > 0 && i + 1 < sb.length &&
            isV(sb(i - 1)) && isV(sb(i + 1)))
          sb(i) = c.toUpper
        else if (c == 'u' && i > 0 && sb(i - 1) == 'q')
          sb(i) = 'U'
      }
      var w = sb.toString
      val rv = rvOf(w)
      val r1 = regionAfterVC(w, 0, isV)
      val r2 = regionAfterVC(w, r1, isV)
      def in(region: Int, suf: String): Boolean = w.length - suf.length >= region

      // step 0: attached pronouns after a gerund/infinitive in RV
      val pronouns = Seq("gliela", "gliele", "glieli", "glielo", "gliene",
        "mela", "mele", "meli", "melo", "mene", "tela", "tele", "teli",
        "telo", "tene", "cela", "cele", "celi", "celo", "cene", "vela",
        "vele", "veli", "velo", "vene", "sene", "gli", "ci", "la", "le",
        "li", "lo", "mi", "ne", "si", "ti", "vi")
      longestSuffix(w, pronouns) match {
        case Some(p) =>
          val pre = w.dropRight(p.length)
          if ((pre.endsWith("ando") || pre.endsWith("endo")) &&
              pre.length - 4 >= rv)
            w = pre
          else if ((pre.endsWith("ar") || pre.endsWith("er") ||
              pre.endsWith("ir")) && pre.length - 2 >= rv)
            w = pre + "e"
        case None =>
      }

      var changed = false
      // step 1: standard suffixes
      val del2 = Seq("atrici", "atrice", "abili", "abile", "ibili",
        "ibile", "mente", "anza", "anze", "iche", "ichi", "ismi",
        "ismo", "ista", "iste", "isti", "istà", "istè",
        "istì", "ante", "anti", "ico", "ici", "ica", "ice",
        "oso", "osi", "osa", "ose")
      val azione = Seq("azione", "azioni", "atore", "atori")
      val all1 = del2 ++ azione ++ Seq("logia", "logie", "uzione",
        "uzioni", "usione", "usioni", "enza", "enze", "amento",
        "amenti", "imento", "imenti", "amente", "ità", "ivo",
        "ivi", "iva", "ive")
      longestSuffix(w, all1) match {
        case Some(suf) =>
          val pre = w.dropRight(suf.length)
          if (del2.contains(suf)) {
            if (in(r2, suf)) { w = pre; changed = true }
          } else if (azione.contains(suf)) {
            if (in(r2, suf)) {
              w = pre; changed = true
              if (w.endsWith("ic") && in(r2, "ic")) w = w.dropRight(2)
            }
          } else if (suf == "logia" || suf == "logie") {
            if (in(r2, suf)) { w = pre + "log"; changed = true }
          } else if (suf.startsWith("u")) { // uzione uzioni usione usioni
            if (in(r2, suf)) { w = pre + "u"; changed = true }
          } else if (suf == "enza" || suf == "enze") {
            if (in(r2, suf)) { w = pre + "ente"; changed = true }
          } else if (suf.endsWith("mento") || suf.endsWith("menti")) {
            if (in(rv, suf)) { w = pre; changed = true }
          } else if (suf == "amente") {
            if (in(r1, suf)) {
              w = pre; changed = true
              if (w.endsWith("iv") && in(r2, "iv")) {
                w = w.dropRight(2)
                if (w.endsWith("at") && in(r2, "at")) w = w.dropRight(2)
              } else for (x <- Seq("os", "ic", "abil"))
                if (w.endsWith(x) && in(r2, x)) w = w.dropRight(x.length)
            }
          } else if (suf == "ità") {
            if (in(r2, suf)) {
              w = pre; changed = true
              for (x <- Seq("abil", "ic", "iv"))
                if (w.endsWith(x) && in(r2, x)) w = w.dropRight(x.length)
            }
          } else { // ivo ivi iva ive
            if (in(r2, suf)) {
              w = pre; changed = true
              if (w.endsWith("at") && in(r2, "at")) {
                w = w.dropRight(2)
                if (w.endsWith("ic") && in(r2, "ic")) w = w.dropRight(2)
              }
            }
          }
        case None =>
      }

      if (!changed) {
        // step 2: verb suffixes (in RV)
        val verbs = Seq(
          "erebbero", "irebbero", "assero", "assimo", "eranno", "erebbe",
          "eremmo", "ereste", "eresti", "essero", "iranno", "irebbe",
          "iremmo", "ireste", "iresti", "iscano", "iscono", "issero",
          "arono", "avamo", "avano", "avate", "eremo", "erete", "erono",
          "evamo", "evano", "evate", "iremo", "irete", "irono", "ivamo",
          "ivano", "ivate", "ammo", "ando", "asse", "assi", "emmo",
          "enda", "ende", "endi", "endo", "erai", "erei", "Yamo", "iamo",
          "immo", "irai", "irei", "isca", "isce", "isci", "isco",
          "ano", "are", "ata", "ate", "ati", "ato", "ava", "avi", "avo",
          "erà", "ere", "erò", "ete", "eva", "evi", "evo",
          "irà", "ire", "irò", "ita", "ite", "iti", "ito",
          "iva", "ivi", "ivo", "ono", "uta", "ute", "uti", "uto",
          "ar", "ir")
        longestSuffix(w, verbs) match {
          case Some(suf) if in(rv, suf) => w = w.dropRight(suf.length)
          case _ =>
        }
      }

      // step 3a: final vowel (and a preceding i) in RV
      if (w.nonEmpty && "aeioàèìò".indexOf(w.last) >= 0 &&
          w.length - 1 >= rv) {
        w = w.dropRight(1)
        if (w.endsWith("i") && w.length - 1 >= rv) w = w.dropRight(1)
      }
      // step 3b: ch/gh → c/g (in RV)
      if ((w.endsWith("ch") || w.endsWith("gh")) && w.length - 2 >= rv)
        w = w.dropRight(1)

      w.map { case 'I' => 'i'; case 'U' => 'u'; case c => c }
    }
  }

  // ==================================================================
  // German (German2 variant) —
  // snowballstem.org/algorithms/german/stemmer.html; German2 additionally
  // treats ae/oe/ue as umlaut spellings (the reference maps 'de' to
  // German2Stemmer)
  // ==================================================================
  object German {
    private val vowels = "aeiouyäöü"
    private def isV(c: Char): Boolean = vowels.indexOf(c) >= 0
    private val sEnding = "bdfghklmnrt"
    private val stEnding = "bdfghklmnt"

    def stem(word0: String): String = {
      // prelude: ß → ss; German2's ae/oe/ue → umlaut (not after q, and
      // not 'ue' in a vowel run like 'aue'); u/y between vowels marked
      val w0 = word0.replace("ß", "ss")
      val b = new StringBuilder
      var i = 0
      while (i < w0.length) {
        val c = w0(i)
        if (i + 1 < w0.length && w0(i + 1) == 'e' && (c == 'a' || c == 'o' ||
            (c == 'u' && (i == 0 || w0(i - 1) != 'q') &&
              (i == 0 || !isV(w0(i - 1)))))) {
          c match {
            case 'a' => b.append('ä')
            case 'o' => b.append('ö')
            case _   => b.append('ü')
          }
          i += 2
        } else { b.append(c); i += 1 }
      }
      val sb = new StringBuilder(b.toString)
      for (j <- 0 until sb.length) {
        val c = sb(j)
        if ((c == 'u' || c == 'y') && j > 0 && j + 1 < sb.length &&
            isV(sb(j - 1)) && isV(sb(j + 1)))
          sb(j) = c.toUpper
      }
      var w = sb.toString

      // R1/R2, with R1 moved to at least 3 characters in
      var r1 = regionAfterVC(w, 0, isV)
      val r2 = regionAfterVC(w, r1, isV)
      if (r1 < 3) r1 = math.min(3, w.length)
      def in(region: Int, suf: String): Boolean = w.length - suf.length >= region

      // step 1
      longestSuffix(w, Seq("ern", "em", "er", "en", "es", "e", "s")) match {
        case Some(suf @ ("ern" | "em" | "er")) if in(r1, suf) =>
          w = w.dropRight(suf.length)
        case Some(suf @ ("en" | "es" | "e")) if in(r1, suf) =>
          w = w.dropRight(suf.length)
          if (w.endsWith("niss")) w = w.dropRight(1) // nisse → nis
        case Some("s") if in(r1, "s") && w.length >= 2 &&
            sEnding.indexOf(w(w.length - 2)) >= 0 =>
          w = w.dropRight(1)
        case _ =>
      }

      // step 2
      longestSuffix(w, Seq("est", "en", "er", "st")) match {
        case Some(suf @ ("est" | "en" | "er")) if in(r1, suf) =>
          w = w.dropRight(suf.length)
        case Some("st") if in(r1, "st") && w.length >= 6 &&
            stEnding.indexOf(w(w.length - 3)) >= 0 =>
          w = w.dropRight(2)
        case _ =>
      }

      // step 3: d-suffixes
      longestSuffix(w, Seq("isch", "lich", "heit", "keit", "end", "ung",
        "ig", "ik")) match {
        case Some(suf @ ("end" | "ung")) if in(r2, suf) =>
          w = w.dropRight(suf.length)
          if (w.endsWith("ig") && in(r2, "ig") && w.length >= 3 &&
              w(w.length - 3) != 'e')
            w = w.dropRight(2)
        case Some(suf @ ("ig" | "ik" | "isch")) if in(r2, suf) &&
            (w.length - suf.length == 0 || w(w.length - suf.length - 1) != 'e') =>
          w = w.dropRight(suf.length)
        case Some(suf @ ("lich" | "heit")) if in(r2, suf) =>
          w = w.dropRight(suf.length)
          for (x <- Seq("er", "en"))
            if (w.endsWith(x) && in(r1, x)) w = w.dropRight(2)
        case Some("keit") if in(r2, "keit") =>
          w = w.dropRight(4)
          for (x <- Seq("lich", "ig"))
            if (w.endsWith(x) && in(r2, x)) w = w.dropRight(x.length)
        case _ =>
      }

      // postlude: unmark, strip umlauts
      w.map {
        case 'U' => 'u'; case 'Y' => 'y'
        case 'ä' => 'a'; case 'ö' => 'o'; case 'ü' => 'u'
        case c => c
      }
    }
  }

  // ==================================================================
  // Swedish — snowballstem.org/algorithms/swedish/stemmer.html
  // (the classic algorithm the reference's org.tartarus SwedishStemmer
  // implements; the reference ships no test vectors for it, so the spec
  // pins hand-traces of the published description)
  // ==================================================================
  object Swedish {
    private val vowels = "aeiouyäåö"
    private def isV(c: Char): Boolean = vowels.indexOf(c) >= 0
    private val sEnding = "bcdfghjklmnoprtvy"
    // all suffix lists pre-sorted longest-first ONCE (word_stem is a
    // per-row SQL function — per-call sorts and allocations are hot-path
    // work on corpus-scale stemming queries)
    private val step1Sorted = (Seq(
      "a", "arna", "erna", "heterna", "orna", "ad", "e", "ade", "ande",
      "arne", "are", "aste", "en", "anden", "aren", "heten", "ern", "ar",
      "er", "heter", "or", "as", "arnas", "ernas", "ornas", "es", "ades",
      "andes", "ens", "arens", "hetens", "erns", "at", "andet", "het",
      "ast") :+ "s").sortBy(-_.length)
    private val step2 = Seq("dd", "gd", "nn", "dt", "gt", "kt", "tt")
    private val step3Sorted =
      Seq("lig", "ig", "els", "löst", "fullt").sortBy(-_.length)

    def stem(word0: String): String = {
      var w = word0
      var r1 = regionAfterVC(w, 0, isV)
      if (r1 < 3) r1 = math.min(3, w.length)
      def in(suf: String): Boolean = w.length - suf.length >= r1

      // step 1: longest d-suffix matched WITHIN R1 deleted; s only after
      // a valid s-ending (the s-ending char itself may sit before R1 —
      // only the matched substring is region-limited)
      firstFitIn(w, r1, step1Sorted) match {
        case Some("s") =>
          if (w.length >= 2 && sEnding.indexOf(w(w.length - 2)) >= 0)
            w = w.dropRight(1)
        case Some(suf) => w = w.dropRight(suf.length)
        case _ =>
      }

      // step 2: shorten a double-consonant cluster in R1 — EXACTLY ONE
      // deletion (an among applies once: '…gdd' loses one d and stops;
      // looping would let the freshly exposed 'gd' fire a second time)
      step2.find(suf => w.endsWith(suf) && in(suf))
        .foreach(_ => w = w.dropRight(1))

      // step 3
      firstFitIn(w, r1, step3Sorted) match {
        case Some(suf @ ("lig" | "ig" | "els")) => w = w.dropRight(suf.length)
        case Some("löst") => w = w.dropRight(1)
        case Some("fullt") => w = w.dropRight(1)
        case _ =>
      }
      w
    }
  }

  // ==================================================================
  // Norwegian — snowballstem.org/algorithms/norwegian/stemmer.html
  // ==================================================================
  object Norwegian {
    private val vowels = "aeiouyæåø"
    private def isV(c: Char): Boolean = vowels.indexOf(c) >= 0
    private val sEnding = "bcdfghjlmnoprtvyz"
    private val step1Sorted = (Seq(
      "a", "e", "ede", "ande", "ende", "ane", "ene", "hetene", "en",
      "heten", "ar", "er", "heter", "as", "es", "edes", "endes", "enes",
      "hetenes", "ens", "hetens", "ers", "ets", "et", "het", "ast") ++
      Seq("s", "erte", "ert")).sortBy(-_.length)
    private val step2 = Seq("dt", "vt")
    private val step3Sorted = Seq("leg", "eleg", "ig", "eig", "lig",
      "elig", "els", "lov", "elov", "slov", "hetslov").sortBy(-_.length)

    def stem(word0: String): String = {
      var w = word0
      var r1 = regionAfterVC(w, 0, isV)
      if (r1 < 3) r1 = math.min(3, w.length)
      def in(suf: String): Boolean = w.length - suf.length >= r1

      // step 1: d-suffixes; s after a valid s-ending (which includes k
      // only when the k is not preceded by a vowel); erte/ert → er
      firstFitIn(w, r1, step1Sorted) match {
        case Some("s") =>
          val prev = if (w.length >= 2) w(w.length - 2) else ' '
          val validS = sEnding.indexOf(prev) >= 0 ||
            (prev == 'k' && (w.length < 3 || !isV(w(w.length - 3))))
          if (validS) w = w.dropRight(1)
        case Some(suf @ ("erte" | "ert")) =>
          w = w.dropRight(suf.length) + "er"
        case Some(suf) => w = w.dropRight(suf.length)
        case _ =>
      }

      // step 2: dt / vt lose the t (one deletion, among semantics)
      step2.find(suf => w.endsWith(suf) && in(suf))
        .foreach(_ => w = w.dropRight(1))

      // step 3
      firstFitIn(w, r1, step3Sorted) match {
        case Some(suf) => w = w.dropRight(suf.length)
        case _ =>
      }
      w
    }
  }

  // ==================================================================
  // Danish — snowballstem.org/algorithms/danish/stemmer.html
  // ==================================================================
  object Danish {
    private val vowels = "aeiouyæåø"
    private def isV(c: Char): Boolean = vowels.indexOf(c) >= 0
    private val sEnding = "abcdfghjklmnoprtvyzå"
    private val step1Sorted = (Seq(
      "hed", "ethed", "ered", "e", "erede", "ende", "erende", "ene",
      "erne", "ere", "en", "heden", "eren", "er", "heder", "erer", "heds",
      "es", "endes", "erendes", "enes", "ernes", "eres", "ens", "hedens",
      "erens", "ers", "ets", "erets", "et", "eret") :+ "s").sortBy(-_.length)
    private val step2List = Seq("gd", "dt", "gt", "kt")
    private val step3Sorted =
      Seq("ig", "lig", "elig", "els", "løst").sortBy(-_.length)

    def stem(word0: String): String = {
      var w = word0
      var r1 = regionAfterVC(w, 0, isV)
      if (r1 < 3) r1 = math.min(3, w.length)
      def in(suf: String): Boolean = w.length - suf.length >= r1

      // step 1
      firstFitIn(w, r1, step1Sorted) match {
        case Some("s") =>
          if (w.length >= 2 && sEnding.indexOf(w(w.length - 2)) >= 0)
            w = w.dropRight(1)
        case Some(suf) => w = w.dropRight(suf.length)
        case _ =>
      }

      // step 2: consonant-cluster shortening — ONE deletion per pass
      // (an among applies once: '…gdt' loses the t and stops; looping
      // would let the freshly exposed 'gd' fire in the same pass)
      def step2(): Unit =
        step2List.find(suf => w.endsWith(suf) && in(suf))
          .foreach(_ => w = w.dropRight(1))
      step2()

      // step 3: igst loses st unconditionally; then the d-suffixes in R1
      // (deleting one repeats step 2); løst → løs
      if (w.endsWith("igst")) w = w.dropRight(2)
      firstFitIn(w, r1, step3Sorted) match {
        case Some("løst") => w = w.dropRight(1)
        case Some(suf) =>
          w = w.dropRight(suf.length)
          step2()
        case _ =>
      }

      // step 4: undouble a final double consonant in R1
      if (w.length >= 2 && w.last == w(w.length - 2) && !isV(w.last) &&
          w.length - 1 >= r1)
        w = w.dropRight(1)
      w
    }
  }

  // ==================================================================
  // Dutch — snowballstem.org/algorithms/dutch/stemmer.html
  // ==================================================================
  object Dutch {
    private val vowels = "aeiouyè"
    private def isV(c: Char): Boolean = vowels.indexOf(c) >= 0
    private val doubles = Seq("kk", "dd", "tt")
    private val step1List = Seq("heden", "ene", "en", "se", "s")
    private val step3bList = Seq("end", "ing", "ig", "lijk", "baar", "bar")

    /** kk / dd / tt at the end lose a letter (runs after en/e removal). */
    private def undouble(w: String): String =
      if (doubles.exists(w.endsWith)) w.dropRight(1) else w

    def stem(word0: String): String = {
      // prelude: strip umlauts and acutes; mark y (initial or after a
      // vowel) and i-between-vowels upper case so they read as consonants
      val unaccented = word0.map {
        case 'ä' | 'á' => 'a'; case 'ë' | 'é' => 'e'; case 'ï' | 'í' => 'i'
        case 'ö' | 'ó' => 'o'; case 'ü' | 'ú' => 'u'; case c => c
      }
      val sb = new StringBuilder(unaccented)
      for (j <- 0 until sb.length) {
        val c = sb(j)
        if (c == 'y' && (j == 0 || isV(sb(j - 1)))) sb(j) = 'Y'
        else if (c == 'i' && j > 0 && j + 1 < sb.length &&
            isV(sb(j - 1)) && isV(sb(j + 1))) sb(j) = 'I'
      }
      var w = sb.toString

      var r1 = regionAfterVC(w, 0, isV)
      val r2 = regionAfterVC(w, r1, isV)
      if (r1 < 3) r1 = math.min(3, w.length)
      def in(region: Int, suf: String): Boolean =
        w.length - suf.length >= region

      // a valid en-ending: preceded by a non-vowel, and not gem(en)
      def validEn(suf: String): Boolean = {
        val stemEnd = w.length - suf.length
        stemEnd >= 1 && !isV(w(stemEnd - 1)) &&
          !w.substring(0, stemEnd).endsWith("gem")
      }
      def removeEn(suf: String): Unit = {
        w = w.dropRight(suf.length)
        w = undouble(w)
      }

      // step 1
      longestSuffix(w, step1List) match {
        case Some("heden") if in(r1, "heden") =>
          w = w.dropRight(5) + "heid"
        case Some(suf @ ("ene" | "en")) if in(r1, suf) && validEn(suf) =>
          removeEn(suf)
        case Some(suf @ ("se" | "s"))
            if in(r1, suf) && w.length - suf.length >= 1 && {
              val p = w(w.length - suf.length - 1)
              !isV(p) && p != 'j'
            } =>
          w = w.dropRight(suf.length)
        case _ =>
      }

      // step 2: a final e after a non-vowel, then undouble
      var eFound = false
      if (w.endsWith("e") && in(r1, "e") && w.length >= 2 &&
          !isV(w(w.length - 2))) {
        eFound = true
        w = undouble(w.dropRight(1))
      }

      // step 3a: heid (not after c), then another en
      if (w.endsWith("heid") && in(r2, "heid") &&
          (w.length < 5 || w(w.length - 5) != 'c')) {
        w = w.dropRight(4)
        if (w.endsWith("en") && in(r1, "en") && validEn("en"))
          removeEn("en")
      }

      // step 3b: derivational suffixes in R2
      longestSuffix(w, step3bList) match {
        case Some(suf @ ("end" | "ing")) if in(r2, suf) =>
          w = w.dropRight(suf.length)
          if (w.endsWith("ig") && in(r2, "ig") &&
              (w.length < 3 || w(w.length - 3) != 'e'))
            w = w.dropRight(2)
          else w = undouble(w)
        case Some("ig") if in(r2, "ig") &&
            (w.length < 3 || w(w.length - 3) != 'e') =>
          w = w.dropRight(2)
        case Some("lijk") if in(r2, "lijk") =>
          w = w.dropRight(4)
          // repeat step 2
          if (w.endsWith("e") && in(r1, "e") && w.length >= 2 &&
              !isV(w(w.length - 2)))
            w = undouble(w.dropRight(1))
        case Some("baar") if in(r2, "baar") => w = w.dropRight(4)
        case Some("bar") if in(r2, "bar") && eFound => w = w.dropRight(3)
        case _ =>
      }

      // step 4: undouble vowel — ...CVVD with D a non-vowel other than
      // I and VV one of aa/ee/oo/uu loses one vowel
      if (w.length >= 4) {
        val d = w(w.length - 1)
        val v1 = w(w.length - 2)
        val v2 = w(w.length - 3)
        val c = w(w.length - 4)
        if (!isV(d) && d != 'I' && v1 == v2 && "aeou".indexOf(v1) >= 0 &&
            !isV(c))
          w = w.substring(0, w.length - 2) + d
      }

      // postlude
      w.map { case 'Y' => 'y'; case 'I' => 'i'; case c => c }
    }
  }

  // ==================================================================
  // Russian — snowballstem.org/algorithms/russian/stemmer.html
  // (Cyrillic. Snowball 2.0+ prescribes a ё→е prelude; the reference
  // bundles Lucene 7.2.1's org.tartarus RussianStemmer, generated from
  // PRE-2.0 Snowball, which performs no replacement and excludes ё
  // from the vowel grouping — we match the reference: ё passes through
  // untouched and is not a vowel, so e.g. ёлками → ёлкам, not елк.)
  // ==================================================================
  object Russian {
    private val vowels = "аеиоуыэюя"
    private def isV(c: Char): Boolean = vowels.indexOf(c) >= 0

    // group-1 endings match only after а or я (the а/я stays); group-2
    // endings are unconditional. Matching is longest-first across the
    // UNION, condition by membership — among semantics, no fallback.
    private val perfGerund1 = Seq("в", "вши", "вшись")
    private val perfGerund2 = Seq("ив", "ивши", "ившись", "ыв", "ывши",
      "ывшись")
    private val adjective = Seq("ее", "ие", "ые", "ое", "ими", "ыми",
      "ей", "ий", "ый", "ой", "ем", "им", "ым", "ом", "его", "ого",
      "ему", "ому", "их", "ых", "ую", "юю", "ая", "яя", "ою", "ею")
    private val participle1 = Seq("ем", "нн", "вш", "ющ", "щ")
    private val participle2 = Seq("ивш", "ывш", "ующ")
    private val verb1 = Seq("ла", "на", "ете", "йте", "ли", "й", "л",
      "ем", "н", "ло", "но", "ет", "ют", "ны", "ть", "ешь", "нно")
    private val verb2 = Seq("ила", "ыла", "ена", "ейте", "уйте", "ите",
      "или", "ыли", "ей", "уй", "ил", "ыл", "им", "ым", "ен", "ило",
      "ыло", "ено", "ят", "ует", "уют", "ит", "ыт", "ены", "ить", "ыть",
      "ишь", "ую", "ю")
    private val noun = Seq("а", "ев", "ов", "ие", "ье", "е", "иями",
      "ями", "ами", "еи", "ии", "и", "ией", "ей", "ой", "ий", "й",
      "иям", "ям", "ием", "ем", "ам", "ом", "о", "у", "ах", "иях",
      "ях", "ы", "ь", "ию", "ью", "ю", "ия", "ья", "я")

    // pre-sorted unions + group-2 membership sets, built once (hot path)
    private val perfGerundSorted = (perfGerund1 ++ perfGerund2).sortBy(-_.length)
    private val perfGerund2Set = perfGerund2.toSet
    private val adjectiveSorted = adjective.sortBy(-_.length)
    private val adjectiveSet = adjective.toSet
    private val nounSet = noun.toSet
    private val participleSorted = (participle1 ++ participle2).sortBy(-_.length)
    private val participle2Set = participle2.toSet
    private val verbSorted = (verb1 ++ verb2).sortBy(-_.length)
    private val verb2Set = verb2.toSet
    private val nounSorted = noun.sortBy(-_.length)
    private val reflexiveSorted = Seq("ся", "сь")
    private val superlativeSorted = Seq("ейше", "ейш")
    private val derivationalSorted = Seq("ость", "ост")

    def stem(word0: String): String = {
      var w = word0 // no ё→е prelude: pre-2.0 port, see header comment
      // RV = after the first vowel; R2 = the standard R1-of-R1
      val n = w.length
      var rv = n
      var i = 0
      var break = false
      while (i < n && !break) {
        if (isV(w(i))) { rv = i + 1; break = true }
        i += 1
      }
      val r1 = regionAfterVC(w, 0, isV)
      val r2 = regionAfterVC(w, r1, isV)

      def inRv(suf: String): Boolean = w.length - suf.length >= rv
      // a group-1 suffix needs а/я immediately before it, inside RV
      def group1Ok(suf: String): Boolean = {
        val p = w.length - suf.length - 1
        p >= rv && (w(p) == 'а' || w(p) == 'я')
      }
      // longest match across both groups that fits RV (group-1
      // membership adds the а/я test); Some(suf) on success
      def matchGroups(
          sorted: Seq[String], g2: Set[String]): Option[String] =
        firstFitIn(w, rv, sorted) match {
          case Some(suf) if g2.contains(suf) => Some(suf)
          case Some(suf) if group1Ok(suf) => Some(suf)
          case _ => None
        }

      // step 1: perfective gerund, else (reflexive then adjectival |
      // verb | noun)
      matchGroups(perfGerundSorted, perfGerund2Set) match {
        case Some(suf) => w = w.dropRight(suf.length)
        case None =>
          // reflexive: plain longest of ся/сь in RV
          firstFitIn(w, rv, reflexiveSorted) match {
            case Some(refl) => w = w.dropRight(refl.length)
            case None =>
          }
          matchGroups(adjectiveSorted, adjectiveSet) match {
            case Some(adj) =>
              w = w.dropRight(adj.length)
              matchGroups(participleSorted, participle2Set) match {
                case Some(part) => w = w.dropRight(part.length)
                case None =>
              }
            case None =>
              matchGroups(verbSorted, verb2Set) match {
                case Some(v) => w = w.dropRight(v.length)
                case None =>
                  matchGroups(nounSorted, nounSet) match {
                    case Some(nn) => w = w.dropRight(nn.length)
                    case None =>
                  }
              }
          }
      }

      // step 2: a final и in RV
      if (w.endsWith("и") && inRv("и")) w = w.dropRight(1)

      // step 3: derivational ость/ост in R2
      firstFitIn(w, r2, derivationalSorted) match {
        case Some(suf) => w = w.dropRight(suf.length)
        case _ =>
      }

      // step 4: undouble н; or drop a superlative then undouble н; or
      // drop a final ь — all in RV
      if (w.endsWith("нн") && inRv("нн")) w = w.dropRight(1)
      else firstFitIn(w, rv, superlativeSorted) match {
        case Some(sup) =>
          w = w.dropRight(sup.length)
          if (w.endsWith("нн") && inRv("нн")) w = w.dropRight(1)
        case None =>
          if (w.endsWith("ь") && inRv("ь")) w = w.dropRight(1)
      }
      w
    }
  }

  // ==================================================================
  // Finnish — snowballstem.org/algorithms/finnish/stemmer.html
  // (v = any vowel; V = a restricted vowel, excluding y; LV = a long
  // vowel pair; every "preceded by" test is region-restricted like the
  // among it belongs to)
  // ==================================================================
  object Finnish {
    private val vowels = "aeiouyäö"
    private val restrictedV = "aeiouäö"
    private def isV(c: Char): Boolean = vowels.indexOf(c) >= 0
    private val longV = Seq("aa", "ee", "ii", "oo", "uu", "ää", "öö")
    // suffix tables built and sorted ONCE (per-row hot path)
    private val step1Sorted = Seq("kin", "kaan", "kään", "ko", "kö",
      "han", "hän", "pa", "pä", "sti").sortBy(-_.length)
    private val step2Sorted = Seq("si", "ni", "nsa", "nsä", "mme", "nne",
      "an", "än", "en").sortBy(-_.length)
    private val anPreceders = Seq("ta", "ssa", "sta", "lla", "lta", "na")
    private val aenPreceders = Seq("tä", "ssä", "stä", "llä", "ltä", "nä")
    private val enPreceders = Seq("lle", "ine")
    private val hFamily = Map("han" -> 'a', "hen" -> 'e', "hin" -> 'i',
      "hon" -> 'o', "hun" -> 'u', "hyn" -> 'y', "hän" -> 'ä',
      "hön" -> 'ö')
    private val plainCases = Set("ta", "tä", "ssa", "ssä", "sta", "stä",
      "lla", "llä", "lta", "ltä", "lle", "na", "nä", "ksi", "ine")
    private val step3Sorted = (hFamily.keys.toSeq ++
      Seq("siin", "den", "tten", "seen", "a", "ä", "tta", "ttä", "n") ++
      plainCases.toSeq).sortBy(-_.length)
    private val step4Sorted = Seq("mpi", "mpa", "mpä", "mmi", "mma",
      "mmä", "impi", "impa", "impä", "immi", "imma", "immä", "eja",
      "ejä").sortBy(-_.length)
    private val step4Unconditional = Set("impi", "impa", "impä", "immi",
      "imma", "immä", "eja", "ejä")
    private val step5Sorted = Seq("imma", "mma")

    def stem(word0: String): String = {
      var w = word0
      val r1 = regionAfterVC(w, 0, isV)
      val r2 = regionAfterVC(w, r1, isV)
      def in(region: Int, suf: String): Boolean =
        w.length - suf.length >= region
      def endsLV(s: String): Boolean = longV.exists(s.endsWith)

      // step 1: particles — the substring match is limited to R1; the
      // preceded-by tests are not. kin-family deleted after n, t or a
      // vowel; sti deleted if (also) in R2.
      firstFitIn(w, r1, step1Sorted) match {
        case Some("sti") =>
          if (in(r2, "sti")) w = w.dropRight(3)
        case Some(suf) =>
          val p = w.length - suf.length - 1
          if (p >= 0 && (w(p) == 'n' || w(p) == 't' || isV(w(p))))
            w = w.dropRight(suf.length)
        case _ =>
      }

      // step 2: possessives
      firstFitIn(w, r1, step2Sorted) match {
        case Some("si") =>
          val p = w.length - 3
          if (p < 0 || w(p) != 'k') w = w.dropRight(2)
        case Some("ni") =>
          w = w.dropRight(2)
          if (w.endsWith("kse")) w = w.dropRight(1) + "i"
        case Some(suf @ ("nsa" | "nsä" | "mme" | "nne")) =>
          w = w.dropRight(suf.length)
        case Some("an") if {
          val stem = w.dropRight(2)
          anPreceders.exists(stem.endsWith)
        } => w = w.dropRight(2)
        case Some("än") if {
          val stem = w.dropRight(2)
          aenPreceders.exists(stem.endsWith)
        } => w = w.dropRight(2)
        case Some("en") if {
          val stem = w.dropRight(2)
          enPreceders.exists(stem.endsWith)
        } => w = w.dropRight(2)
        case _ =>
      }

      // step 3: cases
      var endingRemoved = false
      firstFitIn(w, r1, step3Sorted) match {
        case Some(suf) if hFamily.contains(suf) =>
          val p = w.length - suf.length - 1
          if (p >= 0 && w(p) == hFamily(suf)) {
            w = w.dropRight(suf.length); endingRemoved = true
          }
        case Some(suf @ ("siin" | "den" | "tten")) =>
          // preceded by Vi (a restricted vowel then i)
          val stem = w.dropRight(suf.length)
          if (stem.length >= 2 && stem.last == 'i' &&
              restrictedV.indexOf(stem(stem.length - 2)) >= 0) {
            w = stem; endingRemoved = true
          }
        case Some("seen") =>
          val stem = w.dropRight(4)
          if (endsLV(stem)) { w = stem; endingRemoved = true }
        case Some("a" | "ä") =>
          // preceded by cv: a non-vowel then a vowel
          val p = w.length - 2
          if (p >= 1 && isV(w(p)) && !isV(w(p - 1))) {
            w = w.dropRight(1); endingRemoved = true
          }
        case Some(suf @ ("tta" | "ttä")) =>
          val p = w.length - suf.length - 1
          if (p >= 0 && w(p) == 'e') {
            w = w.dropRight(suf.length); endingRemoved = true
          }
        case Some(suf) if plainCases.contains(suf) =>
          w = w.dropRight(suf.length); endingRemoved = true
        case Some("n") =>
          w = w.dropRight(1)
          endingRemoved = true
          if (endsLV(w) || w.endsWith("ie")) w = w.dropRight(1)
        case _ =>
      }

      // step 4: other endings, matched within R2 (the i-forms and
      // eja/ejä are unconditional; the bare comparatives not after po)
      firstFitIn(w, r2, step4Sorted) match {
        case Some(suf) if step4Unconditional.contains(suf) =>
          w = w.dropRight(suf.length)
        case Some(suf) =>
          if (!w.dropRight(suf.length).endsWith("po"))
            w = w.dropRight(suf.length)
        case _ =>
      }

      // step 5: plurals
      if (endingRemoved) {
        if ((w.endsWith("i") || w.endsWith("j")) && in(r1, "i"))
          w = w.dropRight(1)
      } else if (w.endsWith("t") && in(r1, "t") && w.length >= 2 &&
          isV(w(w.length - 2))) {
        w = w.dropRight(1)
        firstFitIn(w, r2, step5Sorted) match {
          case Some("imma") => w = w.dropRight(4)
          case Some("mma") if !w.dropRight(3).endsWith("po") =>
            w = w.dropRight(3)
          case _ =>
        }
      }

      // step 6: tidy — (a)-(d) restricted to R1 (whole pattern inside),
      // (e) on the whole word
      def lastTwoInR1: Boolean = w.length - 2 >= r1
      if (endsLV(w) && lastTwoInR1) w = w.dropRight(1)
      if (w.length >= 2 && "aäei".indexOf(w.last) >= 0 &&
          !isV(w(w.length - 2)) && lastTwoInR1) w = w.dropRight(1)
      if ((w.endsWith("oj") || w.endsWith("uj")) && lastTwoInR1)
        w = w.dropRight(1)
      if (w.endsWith("jo") && lastTwoInR1) w = w.dropRight(1)
      // (e): a double consonant followed by zero or more vowels loses
      // the second consonant of the pair
      var k = w.length - 1
      while (k >= 0 && isV(w(k))) k -= 1
      if (k >= 1 && !isV(w(k)) && w(k) == w(k - 1))
        w = w.substring(0, k) + w.substring(k + 1)
      w
    }
  }

  // ==================================================================
  // Romanian — snowballstem.org/algorithms/romanian/stemmer.html
  // (pre-2.0 Snowball: the reference bundles Lucene 7.2.1's
  // org.tartarus RomanianStemmer, generated before Snowball 2.0 added
  // comma-below normalization — the recognized letters are the CEDILLA
  // forms ş U+015F / ţ U+0163; the modern comma-below ș U+0219 /
  // ț U+021B pass through unrecognized, exactly as in the reference.
  // README's divergence matrix records this spelling sensitivity.)
  // ==================================================================
  object Romanian {
    private val vowels = "aeiouăâî"
    private def isV(c: Char): Boolean = vowels.indexOf(c) >= 0

    /** RV as in the other Romance stemmers: second letter a consonant →
      * after the next vowel; first two letters vowels → after the next
      * consonant; consonant-vowel start → after the third letter; end
      * of the word when absent. */
    private def rvOf(w: String): Int = {
      val n = w.length
      if (n < 3) return n
      if (!isV(w(1))) {
        var i = 2; while (i < n && !isV(w(i))) i += 1
        if (i < n) i + 1 else n
      } else if (isV(w(0)) && isV(w(1))) {
        var i = 2; while (i < n && isV(w(i))) i += 1
        if (i < n) i + 1 else n
      } else 3
    }

    // step 0 (removal of plurals / articles), longest suffix in R1.
    // Actions keyed per suffix below; 'ile' carries the not-after-'ab'
    // guard that preserves 'abile' for the step-2 R2 deletion.
    private val step0Sorted = Seq(
      "iilor", "aţia", "aţie", "atei", "elor", "iile", "ilor", "ului",
      "aua", "ele", "iei", "ile", "iua", "ea", "ii", "ul")
      .sortBy(-_.length)

    // step 1 (combining suffixes), longest suffix in R1, REPEATED until
    // no replacement; each replacement also arms the removed flag that
    // suppresses the verb step.
    private val comboRepl: Seq[(String, String)] = (
      Seq("abilitate", "abilitati", "abilităi", "abilităţi")
        .map(_ -> "abil") ++
      Seq("ibilitate").map(_ -> "ibil") ++
      Seq("ivitate", "ivitati", "ivităi", "ivităţi").map(_ -> "iv") ++
      Seq("icitate", "icitati", "icităi", "icităţi", "icator", "icatori",
        "iciv", "iciva", "icive", "icivi", "icivă",
        "ical", "icala", "icale", "icali", "icală").map(_ -> "ic") ++
      Seq("ativ", "ativa", "ative", "ativi", "ativă", "aţiune",
        "atoare", "ator", "atori",
        "ătoare", "ător", "ători").map(_ -> "at") ++
      Seq("itiv", "itiva", "itive", "itivi", "itivă", "iţiune",
        "itoare", "itor", "itori").map(_ -> "it")
    ).sortBy(-_._1.length)

    // step 2 (standard suffixes), longest suffix in R2
    private val stdDelete = Seq(
      "at", "ata", "ată", "ati", "ate", "ut", "uta", "ută", "uti", "ute",
      "it", "ita", "ită", "iti", "ite", "ic", "ica", "ice", "ici", "ică",
      "abil", "abila", "abile", "abili", "abilă",
      "ibil", "ibila", "ibile", "ibili", "ibilă",
      "oasa", "oasă", "oase", "os", "osi", "oşi",
      "ant", "anta", "ante", "anti", "antă", "ator", "atori",
      "itate", "itati", "ităi", "ităţi",
      "iv", "iva", "ive", "ivi", "ivă")
    private val stdIst =
      Set("ism", "isme", "ist", "ista", "iste", "isti", "istă", "işti")
    private val stdSorted =
      (stdDelete ++ stdIst ++ Seq("iune", "iuni")).sortBy(-_.length)

    // step 3 (verb suffixes) in RV, `setlimit tomark pV` semantics: a
    // suffix reaching past RV cannot match, so shorter entries still
    // try (firstFitIn). true = delete only when the preceding char is
    // ALSO inside RV and is a non-vowel or 'u'; false = plain delete.
    private val verbCond = Seq(
      "aserăţi", "iserăţi", "userăţi", "âserăţi",
      "aserăm", "iserăm", "userăm", "âserăm",
      "aseră", "iseră", "useră", "âseră",
      "aseşi", "iseşi", "useşi", "âseşi",
      "asem", "isem", "usem", "âsem",
      "ează", "ească", "eşte", "ăşte", "eşti", "ăşti",
      "ase", "ise", "use", "âse",
      "are", "ere", "ire", "âre", "ind", "ând", "indu", "ându",
      "eze", "eam", "iam", "eai", "iai", "eau", "iau",
      "esc", "ăsc", "ez", "ezi", "ea", "ia")
    private val verbPlain = Seq(
      "seserăţi", "seserăm", "seseră", "seseşi", "sesem",
      "serăţi", "serăm", "seră", "seşi", "sese", "sei", "se",
      "arăţi", "urăţi", "irăţi", "ârăţi",
      "arăm", "urăm", "irăm", "ârăm",
      "ară", "ură", "iră", "âră",
      "aţi", "eţi", "iţi", "âţi",
      "aşi", "işi", "uşi", "âşi",
      "am", "au", "em", "im", "âm", "ăm",
      "ai", "ui", "âi")
    private val verbSorted: Seq[(String, Boolean)] =
      (verbCond.map(_ -> true) ++ verbPlain.map(_ -> false))
        .sortBy(-_._1.length)

    // step 4 (residual vowel), longest suffix in RV — 'ie' beats the
    // bare 'e' and there is NO fallback when its RV fit fails
    private val vowelSorted = Seq("ie", "a", "e", "i", "ă").sortBy(-_.length)

    def stem(word0: String): String = {
      // prelude: u and i BETWEEN VOWELS are marked U/I (consonants for
      // every later test); scanning left to right, an already-marked
      // letter no longer counts as a vowel for the next position
      val sb = new StringBuilder(word0)
      var j = 1
      while (j < sb.length - 1) {
        if (isV(sb(j - 1)) && isV(sb(j + 1))) {
          if (sb(j) == 'u') sb(j) = 'U'
          else if (sb(j) == 'i') sb(j) = 'I'
        }
        j += 1
      }
      var w = sb.toString

      val rv = rvOf(w)
      val r1 = regionAfterVC(w, 0, isV)
      val r2 = regionAfterVC(w, r1, isV)

      // step 0
      longestSuffix(w, step0Sorted) match {
        case Some(suf) if w.length - suf.length >= r1 =>
          suf match {
            case "ul" | "ului" => w = w.dropRight(suf.length)
            case "aua" => w = w.dropRight(3) + "a"
            case "ea" | "ele" | "elor" => w = w.dropRight(suf.length) + "e"
            case "ile" =>
              if (!w.dropRight(3).endsWith("ab")) w = w.dropRight(3) + "i"
            case "atei" => w = w.dropRight(4) + "at"
            case "aţia" | "aţie" => w = w.dropRight(4) + "aţi"
            case _ => // ii iua iei iile ilor iilor
              w = w.dropRight(suf.length) + "i"
          }
        case _ =>
      }

      // steps 1 + 2; either one arms the flag that suppresses step 3
      var removed = false
      var again = true
      while (again) {
        again = false
        comboRepl.find { case (s, _) => w.endsWith(s) } match {
          case Some((s, r)) if w.length - s.length >= r1 =>
            w = w.dropRight(s.length) + r
            removed = true
            again = true
          case _ =>
        }
      }
      longestSuffix(w, stdSorted) match {
        case Some(suf) if w.length - suf.length >= r2 =>
          if (stdIst.contains(suf)) {
            w = w.dropRight(suf.length) + "ist"
            removed = true
          } else if (suf == "iune" || suf == "iuni") {
            // delete only when preceded by ţ, which becomes t
            if (w.length > suf.length &&
                w(w.length - suf.length - 1) == 'ţ') {
              w = w.dropRight(suf.length + 1) + "t"
              removed = true
            }
          } else {
            w = w.dropRight(suf.length)
            removed = true
          }
        case _ =>
      }

      // step 3
      if (!removed) {
        verbSorted.find { case (s, _) =>
          w.endsWith(s) && w.length - s.length >= rv
        } match {
          case Some((s, cond)) =>
            val start = w.length - s.length
            val ok = !cond || (start - 1 >= rv && {
              val p = w(start - 1)
              !isV(p) || p == 'u'
            })
            if (ok) w = w.dropRight(s.length)
          case None =>
        }
      }

      // step 4
      longestSuffix(w, vowelSorted) match {
        case Some(s) if w.length - s.length >= rv => w = w.dropRight(s.length)
        case _ =>
      }

      // postlude
      w.map { case 'I' => 'i'; case 'U' => 'u'; case c => c }
    }
  }
}

package graft.text

/** The straightforward Porter2 implementation that `Porter2` replaced:
  * every step written with `String` operations, `Seq` suffix tables and
  * closures built per call, and vowel tests through a `Set[Char]`. Kept
  * as the reference arm of [[Porter2DiffSpec]], which asserts that the
  * buffer-based `Porter2.stem` returns the same stem for every word.
  * Not for production use: it allocates on every step.
  */
object Porter2Reference {

  private val Vowels = "aeiouy".toSet

  /** Full-word exceptions applied before the algorithm. */
  private val Exceptions1: Map[String, String] = Map(
    "skis" -> "ski", "skies" -> "sky", "dying" -> "die", "lying" -> "lie",
    "tying" -> "tie", "idly" -> "idl", "gently" -> "gentl", "ugly" -> "ugli",
    "early" -> "earli", "only" -> "onli", "singly" -> "singl", "sky" -> "sky",
    "news" -> "news", "howe" -> "howe", "atlas" -> "atlas", "cosmos" -> "cosmos",
    "bias" -> "bias", "andes" -> "andes")

  /** Words invariant after step 1a. */
  private val Exceptions2: Set[String] = Set(
    "inning", "outing", "canning", "herring", "earring",
    "proceed", "exceed", "succeed")

  private val Doubles = Set("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
  private val LiEnding = "cdeghkmnrt".toSet

  private def isVowel(c: Char): Boolean = Vowels.contains(c)

  /** R1 start index; special-cased prefixes per the spec. */
  private def r1Start(w: String): Int = {
    for (p <- Seq("gener", "commun", "arsen"))
      if (w.startsWith(p)) return p.length
    var i = 0
    while (i < w.length && !isVowel(w(i))) i += 1      // skip leading non-vowels
    while (i < w.length && isVowel(w(i))) i += 1        // skip the vowel run
    if (i < w.length) i + 1 else w.length
  }

  private def regionStartAfter(w: String, from: Int): Int = {
    var i = from
    while (i < w.length && !isVowel(w(i))) i += 1
    while (i < w.length && isVowel(w(i))) i += 1
    if (i < w.length) i + 1 else w.length
  }

  /** Ends in a short syllable: (non-vowel, vowel, non-vowel≠wxY) at end,
    * or (vowel, non-vowel) covering the whole 2-letter word start. */
  private def endsShortSyllable(w: String): Boolean = {
    val n = w.length
    if (n == 2) isVowel(w(0)) && !isVowel(w(1))
    else if (n >= 3) {
      val (a, b, c) = (w(n - 3), w(n - 2), w(n - 1))
      !isVowel(a) && isVowel(b) && !isVowel(c) && c != 'w' && c != 'x' && c != 'Y'
    } else false
  }

  private def containsVowel(s: String): Boolean = s.exists(isVowel)

  def stem(input: String): String = {
    if (input == null) return null
    var w = input
    if (w.length < 3) return w
    if (w.charAt(0) == '\'') w = w.substring(1)
    Exceptions1.get(w) match {
      case Some(s) => return s
      case None =>
    }
    if (w.length < 3) return w

    // mark consonant y as Y
    val sb = new StringBuilder(w)
    if (sb.nonEmpty && sb(0) == 'y') sb(0) = 'Y'
    for (i <- 1 until sb.length)
      if (sb(i) == 'y' && isVowel(sb(i - 1))) sb(i) = 'Y'
    w = sb.toString

    var r1 = r1Start(w)
    var r2 = regionStartAfter(w, r1)
    def inR1(suffixLen: Int): Boolean = w.length - suffixLen >= r1
    def inR2(suffixLen: Int): Boolean = w.length - suffixLen >= r2

    // Step 0: drop ', 's, 's'
    for (s <- Seq("'s'", "'s", "'")) {
      if (w.endsWith(s) && w.length > s.length) {
        w = w.dropRight(s.length)
      }
    }

    // Step 1a
    if (w.endsWith("sses")) w = w.dropRight(2)
    else if (w.endsWith("ied") || w.endsWith("ies")) {
      w = if (w.length - 3 > 1) w.dropRight(2) else w.dropRight(1)
    } else if (w.endsWith("us") || w.endsWith("ss")) ()
    else if (w.endsWith("s")) {
      if (containsVowel(w.substring(0, math.max(w.length - 2, 0))))
        w = w.dropRight(1)
    }

    if (Exceptions2.contains(w)) return w

    // Step 1b
    val eedSuffix = Seq("eedly", "eed").find(w.endsWith)
    eedSuffix match {
      case Some(s) =>
        if (inR1(s.length)) w = w.dropRight(s.length) + "ee"
      case None =>
        Seq("ingly", "edly", "ing", "ed").find(w.endsWith) match {
          case Some(s) if containsVowel(w.dropRight(s.length)) =>
            w = w.dropRight(s.length)
            if (w.endsWith("at") || w.endsWith("bl") || w.endsWith("iz")) w += "e"
            else if (Doubles.exists(w.endsWith)) w = w.dropRight(1)
            else {
              // word is short: R1 empty and ends in short syllable
              r1 = r1Start(w); r2 = regionStartAfter(w, r1)
              if (r1 >= w.length && endsShortSyllable(w)) w += "e"
            }
          case _ =>
        }
    }
    r1 = r1Start(w); r2 = regionStartAfter(w, r1)

    // Step 1c: y/Y -> i if preceded by a non-vowel that is not word-initial
    if (w.length > 2 && (w.endsWith("y") || w.endsWith("Y")) &&
        !isVowel(w(w.length - 2)))
      w = w.dropRight(1) + "i"

    // Step 2 (longest suffix, in R1)
    val step2: Seq[(String, String => Option[String])] = Seq(
      "ization" -> (s => Some(s + "ize")),
      "ational" -> (s => Some(s + "ate")),
      "fulness" -> (s => Some(s + "ful")),
      "ousness" -> (s => Some(s + "ous")),
      "iveness" -> (s => Some(s + "ive")),
      "tional"  -> (s => Some(s + "tion")),
      "biliti"  -> (s => Some(s + "ble")),
      "lessli"  -> (s => Some(s + "less")),
      "entli"   -> (s => Some(s + "ent")),
      "ation"   -> (s => Some(s + "ate")),
      "alism"   -> (s => Some(s + "al")),
      "aliti"   -> (s => Some(s + "al")),
      "ousli"   -> (s => Some(s + "ous")),
      "iviti"   -> (s => Some(s + "ive")),
      "fulli"   -> (s => Some(s + "ful")),
      "enci"    -> (s => Some(s + "ence")),
      "anci"    -> (s => Some(s + "ance")),
      "abli"    -> (s => Some(s + "able")),
      "izer"    -> (s => Some(s + "ize")),
      "ator"    -> (s => Some(s + "ate")),
      "alli"    -> (s => Some(s + "al")),
      "bli"     -> (s => Some(s + "ble")),
      "ogi"     -> (s => if (s.endsWith("l")) Some(s + "og") else None),
      "li"      -> (s => if (s.nonEmpty && LiEnding.contains(s.last)) Some(s) else None))
    step2.find { case (suf, _) => w.endsWith(suf) } match {
      case Some((suf, repl)) if inR1(suf.length) =>
        repl(w.dropRight(suf.length)).foreach(w = _)
      case _ =>
    }
    r1 = r1Start(w); r2 = regionStartAfter(w, r1)

    // Step 3 (in R1; `ative` needs R2)
    val step3: Seq[(String, String)] = Seq(
      "ational" -> "ate", "tional" -> "tion", "alize" -> "al",
      "icate" -> "ic", "iciti" -> "ic", "ical" -> "ic",
      "ness" -> "", "ful" -> "")
    if (w.endsWith("ative") && inR2(5)) w = w.dropRight(5)
    else step3.find { case (suf, _) => w.endsWith(suf) } match {
      case Some((suf, rep)) if inR1(suf.length) => w = w.dropRight(suf.length) + rep
      case _ =>
    }
    r1 = r1Start(w); r2 = regionStartAfter(w, r1)

    // Step 4 (in R2)
    val step4 = Seq("ement", "ance", "ence", "able", "ible", "ment",
      "ant", "ent", "ism", "ate", "iti", "ous", "ive", "ize",
      "al", "er", "ic")
    step4.find(w.endsWith) match {
      case Some(suf) if inR2(suf.length) => w = w.dropRight(suf.length)
      case Some(_) => // suffix present but not in R2: stop (longest-match semantics)
      case None =>
        if (w.endsWith("ion") && inR2(3) &&
            w.length > 3 && (w(w.length - 4) == 's' || w(w.length - 4) == 't'))
          w = w.dropRight(3)
    }
    r1 = r1Start(w); r2 = regionStartAfter(w, r1)

    // Step 5
    if (w.endsWith("e") &&
        (inR2(1) || (inR1(1) && !endsShortSyllable(w.dropRight(1)))))
      w = w.dropRight(1)
    else if (w.endsWith("l") && inR2(1) && w.length > 1 && w(w.length - 2) == 'l')
      w = w.dropRight(1)

    w.replace('Y', 'y')
  }
}

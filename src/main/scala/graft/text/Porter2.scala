package graft.text

/** Pure-Scala Porter2 (Snowball English) stemmer.
  *
  * The reference pipelines stem tokens with NLTK's SnowballStemmer
  * ("english") inside a Python UDF (`SGDC/sgdc.py:59-61`,
  * `PAC/passiveAgressiveModel.py:64-66`, `BNB/latest_Bnb.py:54-56`); this
  * is the same algorithm implemented from the published Snowball English
  * specification so the pipeline stays JVM-only (no Python boundary, no
  * codegen break beyond the scalar call itself).
  *
  * Semantics notes:
  *   - operates on a single lowercase token (the reference stems the
  *     output of Tokenizer/StopWordsRemover, which is already lowercase);
  *   - words of length ≤ 2 are returned unchanged (spec);
  *   - both exception lists of the spec are honored.
  *
  * It runs once per token of every stemmed micro-batch, so a call
  * allocates only the word's char buffer and the result: the suffix
  * tables are built once, vowels are tested by `Char` compares, and
  * every step edits the buffer in place (a word never grows past its
  * input length). R1 is recomputed at the same points as in the
  * straightforward version (kept as the test arm `Porter2Reference`),
  * including its stale R1 in step 1b; R2 only where a step reads it.
  */
object Porter2 {

  /** Full-word exceptions applied before the algorithm. */
  private val Exceptions1: Map[String, String] = Map(
    "skis" -> "ski", "skies" -> "sky", "dying" -> "die", "lying" -> "lie",
    "tying" -> "tie", "idly" -> "idl", "gently" -> "gentl", "ugly" -> "ugli",
    "early" -> "earli", "only" -> "onli", "singly" -> "singl", "sky" -> "sky",
    "news" -> "news", "howe" -> "howe", "atlas" -> "atlas", "cosmos" -> "cosmos",
    "bias" -> "bias", "andes" -> "andes")

  /** Words invariant after step 1a. */
  private val Exceptions2: Array[String] = Array(
    "inning", "outing", "canning", "herring", "earring",
    "proceed", "exceed", "succeed")

  /** A suffix rule: replace `suffix` by `repl` when the char before the
    * suffix is one of `before` (null: any char, or none). */
  private final class Rule(val suffix: String, val repl: String, val before: String)

  /** Step tables are in longest-first order, so the first suffix that
    * matches is the longest. */
  private val Step2 = Array(
    new Rule("ization", "ize", null), new Rule("ational", "ate", null),
    new Rule("fulness", "ful", null), new Rule("ousness", "ous", null),
    new Rule("iveness", "ive", null), new Rule("tional", "tion", null),
    new Rule("biliti", "ble", null), new Rule("lessli", "less", null),
    new Rule("entli", "ent", null), new Rule("ation", "ate", null),
    new Rule("alism", "al", null), new Rule("aliti", "al", null),
    new Rule("ousli", "ous", null), new Rule("iviti", "ive", null),
    new Rule("fulli", "ful", null), new Rule("enci", "ence", null),
    new Rule("anci", "ance", null), new Rule("abli", "able", null),
    new Rule("izer", "ize", null), new Rule("ator", "ate", null),
    new Rule("alli", "al", null), new Rule("bli", "ble", null),
    new Rule("ogi", "og", "l"), new Rule("li", "", "cdeghkmnrt"))

  /** Step 3 apart from `ative`, which needs R2. */
  private val Step3 = Array(
    new Rule("ational", "ate", null), new Rule("tional", "tion", null),
    new Rule("alize", "al", null), new Rule("icate", "ic", null),
    new Rule("iciti", "ic", null), new Rule("ical", "ic", null),
    new Rule("ness", "", null), new Rule("ful", "", null))

  private val Step4 = Array("ement", "ance", "ence", "able",
    "ible", "ment", "ant", "ent", "ism", "ate", "iti", "ous", "ive", "ize",
    "al", "er", "ic").map(new Rule(_, "", null))

  private def isVowel(c: Char): Boolean =
    c == 'a' || c == 'e' || c == 'i' || c == 'o' || c == 'u' || c == 'y'

  /** `b[0, n)` ends with `s`. */
  private def ends(b: Array[Char], n: Int, s: String): Boolean = {
    val k = s.length
    if (k > n) return false
    var i = 0
    while (i < k) {
      if (b(n - k + i) != s.charAt(i)) return false
      i += 1
    }
    true
  }

  private def starts(b: Array[Char], n: Int, s: String): Boolean = {
    val k = s.length
    if (k > n) return false
    var i = 0
    while (i < k) {
      if (b(i) != s.charAt(i)) return false
      i += 1
    }
    true
  }

  /** Writes `s` at `b[n)`; returns the new length. */
  private def put(b: Array[Char], n: Int, s: String): Int = {
    s.getChars(0, s.length, b, n)
    n + s.length
  }

  /** `b[0, until)` holds a vowel. */
  private def hasVowel(b: Array[Char], until: Int): Boolean = {
    var i = 0
    while (i < until) {
      if (isVowel(b(i))) return true
      i += 1
    }
    false
  }

  /** R1 start index of `b[0, n)`; special-cased prefixes per the spec. */
  private def r1Start(b: Array[Char], n: Int): Int =
    if (starts(b, n, "gener") || starts(b, n, "arsen")) 5
    else if (starts(b, n, "commun")) 6
    else regionStartAfter(b, n, 0)

  private def regionStartAfter(b: Array[Char], n: Int, from: Int): Int = {
    var i = from
    while (i < n && !isVowel(b(i))) i += 1   // skip non-vowels
    while (i < n && isVowel(b(i))) i += 1    // skip the vowel run
    if (i < n) i + 1 else n
  }

  /** `b[0, n)` ends in a short syllable: (non-vowel, vowel, non-vowel≠wxY)
    * at the end, or (vowel, non-vowel) as the whole 2-letter word. */
  private def endsShortSyllable(b: Array[Char], n: Int): Boolean =
    if (n == 2) isVowel(b(0)) && !isVowel(b(1))
    else if (n >= 3) {
      val c = b(n - 1)
      !isVowel(b(n - 3)) && isVowel(b(n - 2)) && !isVowel(c) &&
        c != 'w' && c != 'x' && c != 'Y'
    } else false

  /** `b[0, n)` ends in one of bb dd ff gg mm nn pp rr tt. */
  private def endsDouble(b: Array[Char], n: Int): Boolean =
    n >= 2 && b(n - 1) == b(n - 2) && "bdfgmnprt".indexOf(b(n - 1)) >= 0

  /** The first rule of a step whose suffix ends `b[0, n)`, or null. */
  private def firstRule(step: Array[Rule], b: Array[Char], n: Int): Rule = {
    var k = 0
    while (k < step.length) {
      if (ends(b, n, step(k).suffix)) return step(k)
      k += 1
    }
    null
  }

  /** Applies `rule` (which matched) if its suffix starts at or after
    * `region` and its `before` guard holds; returns the new length. */
  private def applyRule(rule: Rule, b: Array[Char], n: Int, region: Int): Int = {
    val stemLen = n - rule.suffix.length
    if (stemLen < region) n
    else if (rule.before != null &&
      (stemLen == 0 || rule.before.indexOf(b(stemLen - 1)) < 0)) n
    else put(b, stemLen, rule.repl)
  }

  def stem(input: String): String = {
    if (input == null) return null
    if (input.length < 3) return input
    val w = if (input.charAt(0) == '\'') input.substring(1) else input
    val e = Exceptions1.getOrElse(w, null)
    if (e != null) return e
    if (w.length < 3) return w

    val b = w.toCharArray
    var n = b.length

    // mark consonant y as Y
    if (b(0) == 'y') b(0) = 'Y'
    var i = 1
    while (i < n) {
      if (b(i) == 'y' && isVowel(b(i - 1))) b(i) = 'Y'
      i += 1
    }

    var r1 = r1Start(b, n)

    // Step 0: drop ', 's, 's' — each tested in turn
    if (ends(b, n, "'s'") && n > 3) n -= 3
    if (ends(b, n, "'s") && n > 2) n -= 2
    if (ends(b, n, "'") && n > 1) n -= 1

    // Step 1a
    if (ends(b, n, "sses")) n -= 2
    else if (ends(b, n, "ied") || ends(b, n, "ies")) n -= (if (n - 3 > 1) 2 else 1)
    else if (ends(b, n, "us") || ends(b, n, "ss")) ()
    else if (ends(b, n, "s")) {
      if (hasVowel(b, n - 2)) n -= 1
    }

    var x = 0
    while (x < Exceptions2.length) {
      val e = Exceptions2(x)
      if (e.length == n && starts(b, n, e)) return e
      x += 1
    }

    // Step 1b (`eed` is tested against the R1 of the word as it entered
    // step 0)
    val eed = if (ends(b, n, "eedly")) 5 else if (ends(b, n, "eed")) 3 else 0
    if (eed > 0) {
      if (n - eed >= r1) n = put(b, n - eed, "ee")
    } else {
      val ed =
        if (ends(b, n, "ingly")) 5 else if (ends(b, n, "edly")) 4
        else if (ends(b, n, "ing")) 3 else if (ends(b, n, "ed")) 2 else 0
      if (ed > 0 && hasVowel(b, n - ed)) {
        n -= ed
        if (ends(b, n, "at") || ends(b, n, "bl") || ends(b, n, "iz")) n = put(b, n, "e")
        else if (endsDouble(b, n)) n -= 1
        // word is short: R1 empty and ends in short syllable
        else if (r1Start(b, n) >= n && endsShortSyllable(b, n)) n = put(b, n, "e")
      }
    }
    r1 = r1Start(b, n)

    // Step 1c: y/Y -> i if preceded by a non-vowel that is not word-initial
    if (n > 2 && (b(n - 1) == 'y' || b(n - 1) == 'Y') && !isVowel(b(n - 2)))
      b(n - 1) = 'i'

    // Step 2 (longest suffix, in R1)
    val s2 = firstRule(Step2, b, n)
    if (s2 != null) n = applyRule(s2, b, n, r1)
    r1 = r1Start(b, n)
    var r2 = regionStartAfter(b, n, r1)   // R2 is first needed by step 3

    // Step 3 (in R1; `ative` needs R2)
    if (ends(b, n, "ative") && n - 5 >= r2) n -= 5
    else {
      val s3 = firstRule(Step3, b, n)
      if (s3 != null) n = applyRule(s3, b, n, r1)
    }
    r1 = r1Start(b, n); r2 = regionStartAfter(b, n, r1)

    // Step 4 (in R2); a suffix present but not in R2 stops the step
    // (longest-match semantics)
    val s4 = firstRule(Step4, b, n)
    if (s4 != null) n = applyRule(s4, b, n, r2)
    else if (ends(b, n, "ion") && n - 3 >= r2 && n > 3 &&
        (b(n - 4) == 's' || b(n - 4) == 't'))
      n -= 3
    r1 = r1Start(b, n); r2 = regionStartAfter(b, n, r1)

    // Step 5
    if (ends(b, n, "e") &&
        (n - 1 >= r2 || (n - 1 >= r1 && !endsShortSyllable(b, n - 1))))
      n -= 1
    else if (ends(b, n, "l") && n - 1 >= r2 && n > 1 && b(n - 2) == 'l')
      n -= 1

    i = 0
    while (i < n) {
      if (b(i) == 'Y') b(i) = 'y'
      i += 1
    }
    new String(b, 0, n)
  }
}

package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis functions for the training-data pipeline surface:
  * tokenization, language ID, quality scoring, token counting and
  * document fingerprinting. All pure `Column` compositions (codegen'd,
  * no UDFs) so they run inside WholeStageCodegen over 100 TB of text.
  *
  * The tokenizer here is the single normalization shared by dedup
  * (shingles), skills extraction and language ID so every operator
  * agrees on token identity.
  */
object TextAnalysis {

  /** Lowercased alphanumeric word tokens; empty tokens removed.
    * `array_remove` rather than a `filter` lambda: higher-order
    * functions are excluded from whole-stage codegen, and this is the
    * innermost building block of every text operator. Identical output
    * (split never yields nulls; array_remove drops every "" element).
    */
  def tokens(text: Column): Column =
    array_remove(split(lower(text), "[^a-z0-9]+"), "")

  /** Token count over whitespace-ish boundaries (BPE-ish regex variant:
    * words, numbers and punctuation runs each count as one token).
    */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** A rough BPE-style token estimate: ceil(chars/4), the heuristic the
    * reference uses for LLM batching (run_ats_enrichment.py:674-676).
    */
  def tokenEstimate(text: Column): Column =
    ceil(length(coalesce(text, lit(""))).cast(DoubleType) / 4).cast(LongType)

  /** GPT-2-flavored pre-tokenizer regex: contraction suffixes, then
    * space-prefixed letter runs / digit runs / punctuation runs, then
    * whitespace runs. Leftmost-first alternation — identical in Java
    * regex and RE2-family engines (no lookaround, no backrefs), so the
    * count is engine-portable.
    */
  val BpeTokenRe: String =
    "'(?:[sdmt]|ll|ve|re)| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+|\\s+"

  /** Segment count under [[BpeTokenRe]] — the real-tokenizer-shaped
    * token count (vs the chars/4 estimate), still a pure codegen'd
    * column expression.
    */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(coalesce(text, lit("")), lit(BpeTokenRe), lit(0)))

  /** Word n-gram shingles over `tokens`; one string per shingle,
    * space-joined. Fewer than n tokens → single shingle of the whole
    * text so short docs still participate in dedup.
    */
  def shingles(text: Column, n: Int): Column = {
    val ts = tokens(text)
    val count = size(ts)
    when(count <= n, array(concat_ws(" ", ts)))
      .otherwise(transform(
        sequence(lit(1), count - (n - 1)),
        i => concat_ws(" ", slice(ts, i, lit(n)))))
  }

  /** Distinct shingles — the set used for Jaccard similarity. */
  def shingleSet(text: Column, n: Int): Column = array_distinct(shingles(text, n))

  /** Per-language stopword lists for the n-gram language heuristic.
    * Small on purpose: broadcastable as literals into codegen.
    */
  val StopwordLists: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "es" -> Seq("el", "la", "de", "que", "los", "una", "por", "con", "para", "es"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "pour", "que", "sur")
  )

  /** Distinct stopwords of `words` present in `toks`. `array_intersect`
    * rather than a membership lambda: the lambda form re-evaluates the
    * captured token expression once per stopword (40× per row across
    * the four languages of `langId`); this is one codegen'd pass.
    * Counts are identical because each stopword list is distinct.
    */
  private def hitCount(toks: Column, words: Seq[String]): Column =
    size(array_intersect(array(words.map(lit): _*), toks))

  /** Language-ID heuristic: argmax of stopword hits, ties broken by
    * language code ascending, zero hits → "und" (undetermined).
    * Expressed as `greatest` + a CASE chain in language order rather
    * than an `array_sort` comparator: a comparator lambda is a
    * higher-order function, which excludes the whole projection from
    * whole-stage codegen; this form is pure codegen'd arithmetic with
    * the hit counts shared by subexpression elimination.
    */
  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** [[langId]] over an already-materialized token array — use this
    * form whenever the caller computes other token-derived features in
    * the same projection, so the tokenizer (a regex split per call
    * site after filter-pushdown alias substitution) runs ONCE per row
    * in a lower projection instead of once per feature.
    */
  def langIdFromTokens(toks: Column): Column = {
    val hits = StopwordLists.map { case (lang, words) =>
      lang -> hitCount(toks, words)
    }
    val m = greatest(hits.map(_._2): _*)
    val byLang = hits.sortBy(_._1)
    byLang.init
      .foldLeft(when(m === 0, lit("und"))) { case (acc, (lang, h)) =>
        acc.when(h === m, lit(lang))
      }
      .otherwise(lit(byLang.last._1))
  }

  /** Script-tier language evidence for [[langIdWide]]: BMP codepoint
    * ranges whose presence identifies the language class directly —
    * the alnum tokenizer is Latin-only, so non-Latin scripts need
    * char-level counts, not stopwords. One representative language per
    * script (the standard script-prior heuristic; e.g. Cyrillic → ru
    * covers uk/bg/sr too — documented coarseness, same trade fast
    * script-prior classifiers make before a model refines). Kana
    * separates ja from zh: Japanese text carries kana even when
    * kanji-heavy; pure-Han text routes to zh.
    */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "am" -> "\u1200-\u137F", // Ethiopic (Amharic/Tigrinya \u2192 am prior)
    "ar" -> "\u0600-\u06FF", // Arabic
    "bn" -> "\u0980-\u09FF", // Bengali
    "bo" -> "\u0F00-\u0FFF", // Tibetan
    "bug" -> "\u1A00-\u1A1F", // Buginese (Lontara)
    "chr" -> "\u13A0-\u13FF", // Cherokee syllabary
    "dv" -> "\u0780-\u07BF", // Thaana (Dhivehi)
    "el" -> "\u0370-\u03FF", // Greek
    "gu" -> "\u0A80-\u0AFF", // Gujarati
    "he" -> "\u0590-\u05FF", // Hebrew
    "hi" -> "\u0900-\u097F", // Devanagari
    "hy" -> "\u0530-\u058F", // Armenian
    "ii" -> "\uA000-\uA48F", // Yi syllables (Sichuan Yi)
    "iu" -> "\u1400-\u167F", // Canadian Aboriginal Syllabics (\u2192 iu prior)
    "ja" -> "\u3040-\u30FF", // Hiragana + Katakana
    "ka" -> "\u10A0-\u10FF", // Georgian
    "km" -> "\u1780-\u17FF", // Khmer
    "kn" -> "\u0C80-\u0CFF", // Kannada
    "ko" -> "\uAC00-\uD7A3", // Hangul syllables
    "lo" -> "\u0E80-\u0EFF", // Lao
    "ml" -> "\u0D00-\u0D7F", // Malayalam
    "mni" -> "\uABC0-\uABFF", // Meetei Mayek (Manipuri)
    "my" -> "\u1000-\u109F", // Myanmar
    "nqo" -> "\u07C0-\u07FF", // N'Ko
    "or" -> "\u0B00-\u0B7F", // Oriya
    "pa" -> "\u0A00-\u0A7F", // Gurmukhi (Punjabi)
    "ru" -> "\u0400-\u04FF", // Cyrillic
    "sat" -> "\u1C50-\u1C7F", // Ol Chiki (Santali)
    "si" -> "\u0D80-\u0DFF", // Sinhala
    "syr" -> "\u0700-\u074F", // Syriac
    "ta" -> "\u0B80-\u0BFF", // Tamil
    "te" -> "\u0C00-\u0C7F", // Telugu
    "th" -> "\u0E00-\u0E7F", // Thai
    "vai" -> "\uA500-\uA63F", // Vai syllabary
    "zgh" -> "\u2D30-\u2D7F", // Tifinagh (Standard Moroccan Tamazight)
    "zh" -> "\u4E00-\u9FFF") // CJK Unified Ideographs

  /** Within-script refinement for scripts shared by several
    * languages: once the script tier wins with a prior (Cyrillic \u2192
    * ru, Arabic \u2192 ar), DISTINCTIVE LETTERS refine among that script's
    * languages \u2014 the same orthographic-marker heuristic the Latin
    * tier's close-pair stopwords use, one level down. Keyed by the
    * [[ScriptRanges]] prior; candidates are (lang, marker chars),
    * both cases listed (marker counting runs on the RAW text like the
    * script counts). Rules that keep it honest:
    *  - marker sets are pairwise DISJOINT within a script by
    *    construction \u2014 letters shared between candidates (\u0459/\u045A/\u0458
    *    across sr+mk, \u0456 across uk+be, \u0451 across ru+be, \u067E/\u06AF appearing
    *    in Urdu loanwords) are deliberately excluded, so a hit is
    *    unambiguous evidence and the argmax needs no weighting;
    *  - argmax over marker counts, ties to the lowest language code
    *    (the shared tie rule); ALL-ZERO \u2192 the script prior (pure
    *    common-alphabet text stays with the script's majority
    *    language, the documented coarse prior);
    *  - confidence stays the script-dominance ratio \u2014 refinement
    *    picks WITHIN the script, it doesn't change how much of the
    *    text the script covers.
    * Devanagari (hi/mr/ne) shares one letter inventory \u2014 no reliable
    * single-letter markers \u2014 so it keeps the bare hi prior,
    * documented coarseness.
    */
  val ScriptRefinements: Seq[(String, Seq[(String, String)])] = Seq(
    // Ethiopic script: the QHA series ቐ-ቖ (U+1250-U+1256) is
    // Tigrinya's — Amharic doesn't use it; all-zero → am (round 12)
    "am" -> Seq(
      "ti" -> "ቐቑቒቓቔቕቖ"),
    // Bengali script: Assamese alone uses ra ৰ and va ৱ
    // (Bengali ra is র); all-zero → bn
    "bn" -> Seq(
      "as" -> "ৰৱ"),
    // Hebrew script: the Yiddish digraph ligatures tsvey-vovn/
    // vov-yud/tsvey-yudn װ-ײ never appear in Hebrew.
    // Recall coarseness documented: digitized Yiddish that spells the
    // digraphs as separate letters stays at the he prior
    "he" -> Seq(
      "yi" -> "װױײ"),
    // Devanagari: retroflex LLA ळ is a core Marathi letter and
    // marginal in Hindi (loanwords only — argmax needs just
    // presence). ne/sa share Hindi's inventory → stay at the hi
    // prior, documented coarseness
    "hi" -> Seq(
      "mr" -> "ळ"),
    "ar" -> Seq(
      // the ar prior carries no markers: every other Arabic-script
      // language ADDS letters to the base alphabet, so all-zero \u2192 ar.
      // Round-11b widens fa/ps/ur with ckb (Sorani Kurdish \u2014 the
      // fastText LID label for Arabic-script Kurdish; Kurmanji is
      // Latin-script), sd and ug. Disjointness notes: \u06C6 is shared
      // ckb+ug \u2192 excluded from both; \u06D0 is shared ps+ug \u2192 kept OUT
      // of ug (it was never a ps marker \u2014 ps's five retroflexes are
      // already unambiguous); the Persian additions \u067E \u0686 \u0698 \u06AF are
      // also written in Sorani/Sindhi/Uyghur/Urdu text \u2014 they stay
      // assigned to fa as the documented MAJORITY assignment (the mn
      // \u04E9/\u04AF precedent below: exclusion would leave fa, whose whole
      // alphabet is Arabic + these four, with no markers at all),
      // while ckb/sd/ug are identified by letters only they use, all
      // high-frequency in running text (\u06CE/\u0695 in Sorani, \u06AA \u2014 the
      // Sindhi kaf \u2014 in Sindhi, the \u06C7/\u06C8 vowels in Uyghur)
      "ckb" -> "\u06B5\u0695\u06CE",             // \u06B5 \u0695 \u06CE (\u06C6 shared with ug, excluded)
      "fa" -> "\u067E\u0686\u0698\u06AF",        // \u067E \u0686 \u0698 \u06AF (majority assignment, see above)
      // round 12: Kashmiri \u2014 \u0672 (alef + wavy hamza), \u06C4 (waw + ring)
      // and \u0620 (yeh + ring) are Kashmiri orthography only; none of the
      // other seven Arabic-script languages here writes them
      "ks" -> "\u0620\u0672\u06C4", // \u0620 \u0672 \u06C4
      "ps" -> "\u067C\u0689\u0693\u069A\u06BC",  // \u067C \u0689 \u0693 \u069A \u06BC
      "sd" -> "\u0684\u0683\u068F\u06AA",        // \u0684 \u0683 \u068F \u06AA
      "ug" -> "\u06C7\u06C8",                    // \u06C7 \u06C8 (\u06D0 shared with ps, \u06C6 with ckb \u2014 excluded)
      "ur" -> "\u0679\u0688\u0691\u06BA\u06D2"), // \u0679 \u0688 \u0691 \u06BA \u06D2
    // Cyrillic: round-11b widens the 9-way split with ba/ce/cv/os/
    // sah/tt. The Turkic additions \u04D9 \u0493 \u04A3 \u04BB previously marked kk
    // are shared by tt/ba/sah \u2192 excluded per the disjointness rule
    // (kk keeps \u049B/\u04B1, both kk-only in this set and among the most
    // frequent Kazakh letters); \u04AB is shared ba+cv \u2192 excluded from
    // both; \u04E9/\u04AF stay with mn as the documented MAJORITY assignment
    // (Mongolian adds ONLY these two letters to the Russian base \u2014
    // strict exclusion would make mn unrefinable \u2014 while tt/ba/sah
    // text carries its own descender letters as well, so the argmax
    // still separates them on running text)
    "ru" -> Seq(
      // round 13: Abkhaz — ҧ ҽ ҿ ҩ ҵ are Abkhaz-only in this set
      // (ә is shared with the Turkic group and stays excluded)
      "ab" -> "\u04A7\u04A6\u04BD\u04BC\u04BF\u04BE\u04A9\u04A8\u04B5\u04B4",
      "ba" -> "\u0499\u0498\u04A1\u04A0",         // \u0499 \u04A1 (\u04AB shared with cv, \u04D9/\u0493/\u04A3/\u04BB with kk/tt \u2014 excluded)
      "be" -> "\u045E\u040E",                     // \u045E \u040E
      "bg" -> "\u044A\u042A",                     // \u044A \u042A (rare hard sign in ru, vowel in bg)
      "ce" -> "\u04C0\u04CF",                     // palochka \u04C0 \u04CF (Chechen; no other set language uses it)
      "cv" -> "\u04D1\u04D0\u04D7\u04D6\u04F3\u04F2", // \u04D1 \u04D7 \u04F3 (\u04AB shared with ba, excluded)
      "kk" -> "\u049B\u049A\u04B1\u04B0",         // \u049B \u04B1 (\u04D9 \u0493 \u04A3 \u04BB shared with tt/ba/sah, excluded)
      "mk" -> "\u0453\u0403\u045C\u040C\u0455\u0405", // \u0453 \u045C \u0455
      "mn" -> "\u04E9\u04E8\u04AF\u04AE",         // \u04E9 \u04AF (majority assignment, see above)
      "os" -> "\u04D5\u04D4",                     // \u04D5 (Ossetic ae ligature \u2014 unique in this set)
      "ru" -> "\u044B\u042B\u044D\u042D",         // \u044B \u044D
      "sah" -> "\u0495\u0494\u04A5\u04A4",        // \u0495 \u04A5 (Sakha; \u04BB shared with ba/tt, excluded)
      "sr" -> "\u0452\u0402\u045B\u040B",         // \u0452 \u045B (\u045F shared with mk, excluded)
      "tg" -> "\u04B7\u04B6\u04B3\u04B2\u04E3\u04E2\u04EF\u04EE", // \u04B7 \u04B3 \u04E3 \u04EF
      "tt" -> "\u0497\u0496",                     // \u0497 (\u04D9 \u04A3 \u04BB \u04E9 \u04AF shared with kk/ba/sah/mn, excluded)
      // round 13: Udmurt — ӵ ӝ ӟ ӥ are Udmurt-only in this set
      // (ӧ is shared with Komi, which has no other unique letter and
      // stays out — the documented disjointness rule)
      "udm" -> "\u04F5\u04F4\u04DD\u04DC\u04DF\u04DE\u04E5\u04E4",
      "uk" -> "\u0457\u0407\u0454\u0404\u0491\u0490"), // \u0457 \u0454 \u0491 (\u0456 shared with be, excluded)
    // round 13: Greek script — the polytonic block U+1F00-1FFF is
    // Ancient/Katharevousa orthography; monotonic Modern Greek never
    // writes it (its accented vowels live in the base block), so any
    // polytonic hit is unambiguous grc evidence; all-zero → el
    "el" -> Seq(
      "grc" -> "\u1F00\u1F10\u1F14\u1F76\u1F78\u1FB6\u1FC6\u1FF6\u1FBF\u1FFE"),
    // round 13: CJK script — the written-Cantonese particles
    // 嘅咗唔喺乜嘢 are yue-orthography function characters Mandarin
    // text does not write (their Mandarin equivalents 的/了/不/在 are
    // different characters); all-zero → zh
    "zh" -> Seq(
      "yue" -> "\u5605\u5497\u5514\u55BA\u4E5C\u5622"))

  /** Stopword evidence for the 101 Latin-script languages of
    * [[langIdWide]]. ASCII-only function words by construction: the
    * shared tokenizer lowercases and splits on [^a-z0-9]+, so accented
    * forms fragment before matching — each list picks that language's
    * most frequent DIACRITIC-FREE function words. Close pairs are
    * deliberately separable: da/no share 8 of 10 words but split on
    * af/ikke-vs-av (the real orthographic distinguisher); es/pt split
    * on el/la-vs-o/um; id/ms share the yang/dan/di core but split on
    * itu/tidak/akan-vs-adalah/boleh/kerana; et/fi share ja/on/ei/oli
    * but split on see/kui/aga-vs-se/kun/jos; az/tr split on
    * ki/lakin/olaraq-vs-ve/gibi/ama. Languages whose function words
    * are diacritic-heavy (vi, mt, sq) list only their pure-ASCII
    * function words — the others fragment at the tokenizer and can
    * never match, so listing them would only dilute confidence.
    *
    * The round-11 band widens the same construction to 53 Latin
    * languages, with the new close pairs separated the same way:
    * tl/ceb/war share ang/sa/nga/mga but split on
    * ng/ay/ito-vs-ug/kini/dili-vs-ngan/hini/waray; xh/zu share
    * kodwa/ngoba but split on ukuba/kwaye-vs-ukuthi/futhi; ga/gd
    * share agus/mar but split on ar/ag/na-vs-air/aig/anns; nl/fy
    * share de/en/dat but split on van/het/niet-vs-fan/it/net; da/no
    * vs is split on af/av/ikke-vs-um/var/ekki; id/ms/su split on
    * jeung/anu/teu (su shares no listed word with either); az/tr/uz
    * split on lakin-vs-ama-vs-lekin/uchun. ISO codes follow fastText
    * LID convention where no 2-letter code exists (ceb, war).
    *
    * The round-12 band adds 22 more (79 Latin languages), separated
    * from their nearest established neighbour the same way: ast from
    * es on ya/nun/pa/nel vs una/por/para; co from it on u/chi/cun vs
    * il/che/con; fo from is on at/sum/ikki/hevur vs sem/var/ekki/
    * hefur (and from nn/no, which share only og/at/er/til); haw from
    * sm on ka/ke/kona/aku vs le/e/ua/lona; ia from es/fr on
    * pro/iste/al; ig from ha on nke/ndi/maka vs sun/wannan; ku
    * (Kurmanji — Latin script; Sorani is the Arabic-script ckb
    * refinement) on ji/ev/ew/heye; lg from rw on era/naye/kuba vs
    * cyangwa/ariko/kandi; ln from sw on mpe/oyo/moto vs kwa/za/
    * katika; mi from sm/haw on te/ki/me/nga/tenei; nds from de/nl/fy
    * on un/dat/vun/ok vs und/das/von/auch; ny from sn on ndi/koma/
    * ngati vs uye/asi/kana; om on garuu/akka/keessa; rw from lg/sw
    * as above; sco from en on tae/wi/fae/nae vs to/with/from/not; sm
    * from haw as above; st/tn are the close pair split on ho/hore/
    * empa vs go/gore/mme (they share le/ya/ka/tsa); tk from uz/tr on
    * we/bilen/hem/emma vs va/bilan/ham/lekin vs ve/ama; wo on
    * ngir/waaye/loolu/dafa; yo from ig on ati/pe/awon/gbogbo; gn on
    * avei/ndive/ikatu. Yoruba's listed words are the ASCII skeletons
    * of its (normally diacritized) function words — digitized Yoruba
    * overwhelmingly types them bare, the same trade vi makes above.
    *
    * The round-11b band added 4 (53 → 57 Latin languages), separated
    * from their neighbours the same way: nn (Nynorsk) shares 8 of 10
    * with no (Bokmål) — og/det/at/er/som/med/av/til are the SAME
    * words in both standards — and splits on the real orthographic
    * distinguishers ikkje/eit vs en/ikke (the da/no construction one
    * step further); lb splits from de/nl/fy on ass/vun/fir/datt vs
    * ist/van/het/fan; oc splits from ca/fr/es on lo/los/dins/mas/pas
    * vs el/els/dans/le; br shares only an/ar with ga and splits on
    * hag/eus/gant/evit/war.
    */
  val WideStopwordLists: Seq[(String, Seq[String])] = Seq(
    "af" -> Seq("die", "en", "van", "het", "nie", "is", "wat", "om", "vir", "ook"),
    "ast" -> Seq("la", "de", "que", "el", "ya", "nun", "pa", "los", "nel", "cola"),
    "az" -> Seq("ki", "bir", "bu", "lakin", "olaraq", "zaman", "daha", "sonra", "ancaq", "edir"),
    "bi" -> Seq("blong", "long", "i", "ol", "we", "se", "hemi", "tasol", "wetem", "nomo"),
    "bm" -> Seq("ni", "ka", "ye", "la", "ko", "ani", "nka", "min", "don", "kelen"),
    "br" -> Seq("hag", "an", "eus", "gant", "evit", "war", "ur", "met", "bet", "ar"),
    "ca" -> Seq("el", "la", "de", "que", "els", "per", "amb", "una", "als", "dels"),
    "ceb" -> Seq("ang", "sa", "nga", "ug", "mga", "kini", "dili", "usa", "kay", "iyang"),
    "co" -> Seq("di", "u", "chi", "un", "una", "cun", "quellu", "anu", "issa", "avia"),
    "cs" -> Seq("je", "se", "na", "to", "ale", "jako", "pro", "tak", "co", "nebo"),
    "cy" -> Seq("yn", "y", "ar", "ei", "yr", "bod", "wedi", "am", "gan", "hefyd"),
    "da" -> Seq("og", "det", "at", "en", "til", "er", "som", "med", "af", "ikke"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "auf", "zu"),
    "ee" -> Seq("eye", "kple", "gake", "le", "be", "ame", "esia", "nye", "wo", "na"),
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with"),
    "eo" -> Seq("la", "kaj", "de", "en", "al", "estas", "ne", "por", "kun", "sed"),
    "es" -> Seq("el", "la", "de", "que", "los", "una", "por", "con", "para", "es"),
    "et" -> Seq("ja", "on", "ei", "see", "oli", "ka", "kui", "aga", "mis", "oma"),
    "eu" -> Seq("eta", "da", "ez", "du", "bat", "dira", "baina", "zen", "ere", "dute"),
    "fi" -> Seq("ja", "on", "ei", "se", "oli", "mutta", "kun", "niin", "joka", "jos"),
    "fj" -> Seq("na", "e", "ni", "sa", "me", "kei", "era", "ena", "vaka", "tiko"),
    "fo" -> Seq("og", "at", "er", "til", "um", "sum", "ikki", "hann", "eru", "hevur"),
    "fr" -> Seq("le", "la", "les", "des", "est", "une", "dans", "pour", "que", "sur"),
    "fy" -> Seq("de", "en", "fan", "it", "dat", "net", "mar", "foar", "wurdt", "hawwe"),
    "ga" -> Seq("agus", "an", "ar", "na", "le", "go", "ach", "mar", "ag", "sin"),
    "gd" -> Seq("agus", "air", "aig", "anns", "bha", "tha", "chan", "ann", "mar", "iad"),
    "gl" -> Seq("de", "que", "o", "a", "e", "do", "da", "un", "unha", "dos"),
    "gn" -> Seq("ha", "ko", "pe", "avei", "umi", "ndive", "ikatu", "oiko", "ojapo", "hague"),
    "gv" -> Seq("as", "ayns", "er", "dy", "agh", "ta", "va", "lesh", "shoh", "myr"),
    "ha" -> Seq("da", "ya", "ta", "na", "sun", "ba", "wannan", "amma", "suka", "wata"),
    "haw" -> Seq("ka", "ke", "i", "o", "ma", "kona", "aku", "mai", "kekahi", "keia"),
    "hr" -> Seq("je", "se", "na", "da", "su", "od", "za", "ali", "kao", "ili"),
    "ht" -> Seq("nan", "ak", "pou", "yo", "li", "ki", "sa", "men", "te", "gen"),
    "hu" -> Seq("az", "nem", "hogy", "egy", "van", "de", "ha", "meg", "mint", "csak"),
    "ia" -> Seq("le", "de", "e", "un", "es", "que", "pro", "con", "iste", "al"),
    "id" -> Seq("yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "ini", "dari", "akan"),
    "ig" -> Seq("na", "ka", "nke", "ya", "di", "ndi", "maka", "banyere", "otu", "ihe"),
    "io" -> Seq("la", "e", "en", "di", "kun", "ma", "esas", "ica", "qua", "por"),
    "is" -> Seq("og", "um", "sem", "er", "var", "til", "ekki", "hann", "eru", "hefur"),
    "it" -> Seq("il", "di", "che", "la", "per", "con", "del", "le", "si", "una"),
    "jv" -> Seq("lan", "ing", "kang", "saka", "iku", "karo", "ora", "wis", "ana", "uga"),
    "kl" -> Seq("aamma", "kisianni", "imaluunniit", "tassa", "una", "taanna", "soorlu", "ilaa", "massakkut", "pillugu"),
    "ku" -> Seq("di", "de", "ku", "ji", "li", "bi", "ev", "ew", "heye", "hatiye"),
    "kw" -> Seq("ha", "hag", "yn", "dhe", "gans", "rag", "mes", "yma", "bos", "den"),
    "la" -> Seq("et", "in", "est", "non", "cum", "ad", "ut", "sed", "quod", "qui"),
    "lb" -> Seq("an", "de", "den", "ass", "vun", "fir", "net", "datt", "och", "mat"),
    "lg" -> Seq("nga", "mu", "ku", "era", "naye", "kuba", "bya", "kino", "oba", "buli"),
    "lmo" -> Seq("el", "de", "che", "un", "la", "cont", "minga", "anca", "lu", "semper"),
    "ln" -> Seq("na", "ya", "mpe", "te", "oyo", "moto", "bato", "kasi", "esika", "boye"),
    "lt" -> Seq("ir", "yra", "kad", "tai", "bet", "kaip", "jau", "buvo", "apie", "nes"),
    "lv" -> Seq("un", "ir", "ka", "par", "bet", "no", "uz", "tas", "vai", "tika"),
    "mg" -> Seq("ny", "sy", "dia", "izay", "amin", "ary", "fa", "tsy", "ho", "tamin"),
    "mi" -> Seq("te", "o", "i", "ki", "me", "ka", "he", "nga", "ana", "tenei"),
    "ms" -> Seq("yang", "dan", "di", "dengan", "untuk", "ini", "adalah", "boleh", "kerana", "telah"),
    "mt" -> Seq("li", "ta", "il", "ma", "dan", "din", "kien", "biex", "jew", "ukoll"),
    "nds" -> Seq("de", "un", "dat", "en", "vun", "to", "mit", "ok", "he", "wat"),
    "nl" -> Seq("de", "het", "een", "van", "en", "dat", "niet", "op", "voor", "met"),
    "nn" -> Seq("og", "det", "at", "er", "som", "med", "av", "til", "ikkje", "eit"),
    "no" -> Seq("og", "det", "at", "en", "til", "er", "som", "med", "av", "ikke"),
    "ny" -> Seq("ndi", "kuti", "koma", "ngati", "chifukwa", "anthu", "zonse", "pamene", "kwambiri", "kapena"),
    "oc" -> Seq("de", "la", "que", "lo", "los", "per", "una", "dins", "mas", "pas"),
    "om" -> Seq("fi", "kan", "akka", "garuu", "kana", "isaa", "waan", "kun", "keessa", "booda"),
    "pap" -> Seq("di", "ta", "ku", "na", "pa", "e", "den", "tin", "nan", "esaki"),
    "pl" -> Seq("nie", "to", "jest", "na", "do", "z", "co", "tak", "ale", "jak"),
    "pt" -> Seq("de", "que", "o", "da", "em", "um", "para", "com", "os", "uma"),
    "qu" -> Seq("mana", "chay", "kay", "ichaqa", "hinaspa", "paykuna", "kunan", "llapa", "imayna", "chaymanta"),
    "rm" -> Seq("cun", "quai", "era", "dals", "ed", "ina", "num", "betg", "vegn", "anc"),
    "ro" -> Seq("de", "la", "cu", "un", "o", "este", "pentru", "care", "dar", "mai"),
    "rw" -> Seq("ku", "mu", "ni", "ko", "cyangwa", "ariko", "kandi", "uko", "ibyo", "muri"),
    "sc" -> Seq("de", "su", "sa", "chi", "non", "cun", "pro", "unu", "custu", "issu"),
    "scn" -> Seq("di", "ca", "lu", "la", "nun", "pi", "cu", "chistu", "comu", "quannu"),
    "sco" -> Seq("the", "an", "o", "tae", "wi", "fae", "nae", "aboot", "efter", "haes"),
    "se" -> Seq("ja", "lea", "dat", "go", "son", "mii", "leat", "dan", "ii", "muhto"),
    "sk" -> Seq("je", "sa", "na", "to", "som", "ako", "ale", "pre", "tak", "alebo"),
    "sl" -> Seq("je", "in", "se", "na", "da", "so", "za", "ki", "pa", "tudi"),
    "sm" -> Seq("le", "o", "i", "e", "ua", "ma", "mo", "lona", "lenei", "tagata"),
    "sn" -> Seq("uye", "kuti", "kana", "asi", "zvakare", "izvi", "vanhu", "nekuti", "saka", "apo"),
    "so" -> Seq("iyo", "ka", "oo", "waa", "uu", "si", "ay", "ku", "soo", "kale"),
    "sq" -> Seq("dhe", "me", "nga", "si", "por", "kjo", "ka", "duke", "sipas", "mund"),
    "ss" -> Seq("kutsi", "kodvwa", "futsi", "ngobe", "kuze", "lapha", "njengoba", "lona", "nome", "yebo"),
    "st" -> Seq("le", "ho", "ya", "ka", "hore", "empa", "tsa", "ba", "na", "haeba"),
    "su" -> Seq("jeung", "anu", "teu", "eta", "ieu", "dina", "henteu", "oge", "kana", "sanes"),
    "sv" -> Seq("och", "att", "det", "som", "en", "av", "den", "med", "har", "till"),
    "sw" -> Seq("na", "ya", "wa", "kwa", "ni", "za", "katika", "hii", "lakini", "kama"),
    "tk" -> Seq("we", "bu", "bilen", "hem", "emma", "bolan", "uly", "bir", "bolup", "gelen"),
    "tl" -> Seq("ang", "ng", "sa", "na", "mga", "ay", "at", "para", "ito", "hindi"),
    "tn" -> Seq("le", "go", "ya", "mo", "gore", "mme", "fa", "ka", "tsa", "jaaka"),
    "to" -> Seq("ko", "e", "he", "mo", "ki", "pea", "oku", "ene", "ha", "kuo"),
    "tpi" -> Seq("long", "bilong", "i", "em", "ol", "na", "dispela", "tasol", "wanpela", "olgeta"),
    "tr" -> Seq("bir", "ve", "bu", "da", "ne", "gibi", "ama", "daha", "sonra", "kadar"),
    "ts" -> Seq("ku", "na", "hi", "leswaku", "kambe", "loko", "swona", "lava", "xana", "tani"),
    "uz" -> Seq("va", "bu", "bilan", "uchun", "emas", "ham", "lekin", "keyin", "edi", "deb"),
    "ve" -> Seq("uri", "fhedzi", "na", "kha", "nga", "ngauri", "zwenezwo", "arali", "huno", "vhathu"),
    "vec" -> Seq("el", "de", "che", "un", "na", "par", "xe", "anca", "sto", "ghe"),
    "vi" -> Seq("cho", "trong", "khi", "hay", "nhau", "theo", "ra", "con", "anh", "nay"),
    "wa" -> Seq("li", "et", "ki", "po", "avou", "mins", "dji", "nosse", "tot", "come"),
    "war" -> Seq("an", "ha", "nga", "mga", "ngan", "ini", "hini", "kay", "waray", "amo"),
    "wo" -> Seq("ak", "ci", "la", "ngir", "waaye", "loolu", "dafa", "yi", "bi", "nit"),
    "xh" -> Seq("ukuba", "kwaye", "kodwa", "ngoba", "oku", "naye", "apho", "into", "le", "xa"),
    "yo" -> Seq("ati", "ni", "ti", "pe", "won", "awon", "si", "lati", "fun", "gbogbo"),
    "zu" -> Seq("ukuthi", "futhi", "ngoba", "kodwa", "kanye", "uma", "noma", "lapho", "yena", "khona"))

  /** Argmax over (lang, evidence) pairs with ties to the lowest
    * language code — the shared CASE-chain shape (codegen'd; a
    * comparator lambda would exclude the projection from whole-stage
    * codegen).
    */
  private def argmaxLang(pairs: Seq[(String, Column)], m: Column): Column = {
    val byLang = pairs.sortBy(_._1)
    byLang.init.foldLeft(when(lit(false), lit(""))) {
      case (acc, (lang, h)) => acc.when(h === m, lit(lang))
    }.otherwise(lit(byLang.last._1))
  }

  /** Wide language ID: 167 languages + "und", with a confidence column
    * — the breadth a real multilingual-crawl router needs (the 4-way
    * [[langId]] stays as the minimal reference form). Three tiers,
    * all pure codegen'd expressions:
    *
    *  1. SCRIPT tier: per-script codepoint counts over
    *     [[ScriptRanges]]. If the dominant script covers ≥ 30% of the
    *     non-whitespace characters (integer comparison — engine-exact
    *     at the boundary), the text routes to that script's language
    *     with confidence = round(scriptChars / nonWsChars, 4).
    *  2. REFINEMENT tier: when the winning script is shared by
    *     several languages (Cyrillic, Arabic), distinctive-letter
    *     counts over [[ScriptRefinements]] pick within it — 37
    *     languages from 8 shared-script priors (Cyrillic 17, Arabic 8,
    *     Ethiopic 2, Bengali 2, Greek 2, Hebrew 2, Devanagari 2,
    *     CJK 2); all-zero markers keep the prior.
    *  3. STOPWORD tier (Latin residue): argmax of
    *     [[WideStopwordLists]] hits (101 Latin-script languages),
    *     ties to the lowest language code, confidence =
    *     round(maxHits / tokenCount, 4); zero hits → ("und", 0.0).
    *
    * Returns struct(lang, confidence). Scale shape: one projection —
    * 37 bounded char-class scans (+ marker lookups in the same pass)
    * + one tokenize + 101 array_intersects per row, no shuffle, no
    * state; fuses into the scan at 100 TB.
    */
  def langIdWide(text: Column): Column =
    langIdWideFromTokens(text, tokens(coalesce(text, lit(""))))

  /** [[langIdWide]] over a pre-materialized token array. Delegates to
    * the native [[graft.expr.LangIdWide]] kernel: the composed form
    * below exceeds janino's method limits (the wide CASE chains +
    * per-script regex counts in one projection), so whole-stage codegen
    * SILENTLY fell back to interpreted evaluation with no
    * subexpression reuse — measured 13 s vs ~0.4 s for 5 000 docs.
    * Both forms share the same constants and rules; the spec asserts
    * they agree, and the generated DuckDB oracle replays them.
    */
  def langIdWideFromTokens(text: Column, toks: Column): Column =
    call_function(graft.expr.LangIdWide.FunctionName,
      coalesce(text, lit("")), toks)

  /** The same computation composed from built-in expressions — the
    * readable reference form the oracle generator mirrors and the
    * spec cross-checks against the native kernel. Do not use on a hot
    * path (see [[langIdWideFromTokens]]).
    *
    * The refinement tier is first-match over the script winner: one
    * flat CASE with a branch per [[ScriptRefinements]] prior, as in
    * the kernel's loop (refine by the first matching prior, then
    * break) and the oracle's `CASE WHEN sl = '<prior>' … ELSE sl END`.
    * The script argmax is referenced once per branch. A fold that
    * wraps its accumulator as `when(acc === prior, …).otherwise(acc)`
    * references it twice and doubles the tree with every group —
    * 2^8 copies of the 37-way argmax, enough to exhaust the driver
    * heap while Catalyst coerces and names the unaliased column.
    */
  def langIdWideComposed(text: Column): Column =
    langIdWideComposedFromTokens(text, tokens(coalesce(text, lit(""))))

  private[graft] def langIdWideComposedFromTokens(text: Column,
      toks: Column): Column = {
    val t = coalesce(text, lit(""))
    val nonWs = length(regexp_replace(t, "\\s", ""))
    val scriptHits = ScriptRanges.map { case (lang, cls) =>
      lang -> length(regexp_replace(t, s"[^$cls]", ""))
    }
    val sMax = greatest(scriptHits.map(_._2): _*)
    val useScript = sMax > 0 && sMax * 10 >= nonWs * 3
    val stopHits = WideStopwordLists.map { case (lang, words) =>
      lang -> hitCount(toks, words)
    }
    val hMax = greatest(stopHits.map(_._2): _*)
    val nToks = size(toks)
    // within-script refinement: when the script argmax lands on a
    // refined prior, distinctive-letter counts pick the language
    // inside that script (all-zero → the prior); see ScriptRefinements.
    // One flat CASE, first match wins: scriptArg is referenced once per
    // branch (see langIdWideComposed)
    val scriptArg = argmaxLang(scriptHits, sMax)
    val refined = ScriptRefinements.map { case (prior, cands) =>
      val counts = cands.map { case (l, chars) =>
        l -> length(regexp_replace(t, s"[^$chars]", ""))
      }
      // reduceLeft, not greatest(...): single-candidate groups
      // (hi → mr) would fail greatest's 2-arg minimum
      val rMax = counts.map(_._2).reduceLeft((a, b) => greatest(a, b))
      (scriptArg === prior) ->
        when(rMax === 0, lit(prior)).otherwise(argmaxLang(counts, rMax))
    }
    val scriptLang = refined.tail.foldLeft(when(refined.head._1, refined.head._2)) {
      case (acc, (isPrior, lang)) => acc.when(isPrior, lang)
    }.otherwise(scriptArg)
    val lang = when(useScript, scriptLang)
      .otherwise(when(hMax === 0, lit("und"))
        .otherwise(argmaxLang(stopHits, hMax)))
    val confidence = when(useScript,
        round(sMax.cast(DoubleType) / nonWs, 4))
      .otherwise(when(hMax === 0, lit(0.0))
        .otherwise(round(hMax.cast(DoubleType) / greatest(nToks, lit(1)), 4)))
    struct(lang.as("lang"), confidence.as("confidence"))
  }

  /** Quality-score features: length, punctuation ratio, stopword ratio,
    * mean word length. Returns a struct; `qualityScore` collapses it to
    * one [0,1] number.
    */
  def qualityFeatures(text: Column): Column =
    qualityFeaturesFromTokens(text, tokens(coalesce(text, lit(""))))

  /** [[qualityFeatures]] over a pre-materialized token array (see
    * [[langIdFromTokens]] for why).
    */
  def qualityFeaturesFromTokens(text: Column, toks: Column): Column = {
    val t = coalesce(text, lit(""))
    val nChars = length(t)
    val nTokens = size(toks)
    val nPunct = nChars - length(regexp_replace(t, "[.,!?;:]", ""))
    val enStops = StopwordLists.head._2
    val nStop = hitCount(toks, enStops)
    struct(
      nChars.as("n_chars"),
      nTokens.as("n_tokens"),
      round(nPunct.cast(DoubleType) / greatest(nChars, lit(1)), 4).as("punct_ratio"),
      round(nStop.cast(DoubleType) / greatest(nTokens, lit(1)), 4).as("stop_ratio"),
      round(nChars.cast(DoubleType) / greatest(nTokens, lit(1)), 4).as("mean_tok_len")
    )
  }

  /** Composite quality score in [0,1]: rewards mid-length docs with some
    * stopwords and sane punctuation. Deterministic arithmetic only.
    */
  def qualityScore(text: Column): Column =
    qualityScoreFromTokens(text, tokens(coalesce(text, lit(""))))

  /** [[qualityScore]] over a pre-materialized token array. */
  def qualityScoreFromTokens(text: Column, toks: Column): Column = {
    val f = qualityFeaturesFromTokens(text, toks)
    val lenScore = least(f.getField("n_tokens").cast(DoubleType) / 100.0, lit(1.0))
    val stopScore = least(f.getField("stop_ratio") * 5.0, lit(1.0))
    val punctPenalty = least(f.getField("punct_ratio") * 2.0, lit(1.0))
    round(greatest(lenScore * 0.5 + stopScore * 0.5 - punctPenalty * 0.2, lit(0.0)), 4)
  }

  /** Feature hashing (HashingTF): token → md5-derived bucket in
    * [0, numFeatures), emitted SPARSE as (id, bucket, tf) rows — the
    * relational form scales (no fixed-width dense arrays through the
    * shuffle) and densifies trivially at the consumer. md5 rather than
    * xxhash64 so the bucket assignment reproduces outside the JVM.
    */
  def hashingTf(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, numFeatures: Int): org.apache.spark.sql.DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("_t"))
      .groupBy(col(idCol), pmod(md5Long(col("_t")), lit(numFeatures.toLong))
        .cast(IntegerType).as("bucket"))
      .agg(count(lit(1)).as("tf"))

  /** The stopword list of Gopher's "contains at least 2 of" rule
    * (Rae et al. 2021, appendix A1.1). Checked against the shared
    * alnum tokenizer so case and punctuation don't block a hit.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-style quality rule bundle (Rae et al. 2021, A1.1) — the
    * standard pre-training corpus filter, as one codegen-friendly
    * struct: per-doc stats (4dp-rounded ratios), the seven rule
    * verdicts folded into `n_rules_failed`, and `pass` (1/0).
    *
    * Rules: word count in [minWords, maxWords]; mean word length in
    * [3, 10]; symbol-to-word ratio (# and …) ≤ 0.1; ≥ 80% of words
    * contain a letter; ≥ 2 distinct Gopher stopwords; ≤ 90% of lines
    * bullet-started; ≤ 30% of lines ellipsis-ended. Verdicts compare
    * the ROUNDED ratios so every engine agrees on the boundary cases.
    *
    * Scale shape: a pure per-row projection — no shuffle, no state;
    * at 100 TB this is a map-only pass that fuses into the scan.
    */
  def gopherRules(text: Column, minWords: Long = 50,
      maxWords: Long = 100000): Column = {
    val t = coalesce(text, lit(""))
    val words = array_remove(split(t, "\\s+"), "")
    val nWords = size(words).cast(LongType)
    val wordsDen = greatest(nWords, lit(1L))
    val wordChars = length(regexp_replace(t, "\\s", ""))
    val meanLen = round(wordChars.cast(DoubleType) / wordsDen, 4)
    val nSymbols = (length(t) - length(regexp_replace(t, "#", ""))) +
      size(regexp_extract_all(t, lit("\\.\\.\\."), lit(0)))
    val symbolRatio = round(nSymbols.cast(DoubleType) / wordsDen, 4)
    val nAlpha = size(filter(words, w => w.rlike("[A-Za-z]")))
    val alphaRatio = round(nAlpha.cast(DoubleType) / wordsDen, 4)
    val stopHits = size(array_intersect(
      array(GopherStopwords.map(lit): _*), tokens(t))).cast(LongType)
    val lines = array_remove(transform(split(t, "\n"), l => trim(l)), "")
    val linesDen = greatest(size(lines), lit(1))
    val bulletRatio = round(size(filter(lines, l =>
      l.startsWith("- ") || l.startsWith("* ") || l.startsWith("•")))
      .cast(DoubleType) / linesDen, 4)
    val ellipsisRatio = round(size(filter(lines, l => l.endsWith("...")))
      .cast(DoubleType) / linesDen, 4)
    val verdicts = Seq(
      nWords >= minWords && nWords <= maxWords,
      meanLen >= 3.0 && meanLen <= 10.0,
      symbolRatio <= 0.1,
      alphaRatio >= 0.8,
      stopHits >= 2L,
      bulletRatio <= 0.9,
      ellipsisRatio <= 0.3)
    val failed = verdicts.map(v => when(v, lit(0L)).otherwise(lit(1L)))
      .reduce(_ + _)
    struct(
      nWords.as("n_words"),
      meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"),
      alphaRatio.as("alpha_ratio"),
      stopHits.as("stop_hits"),
      bulletRatio.as("bullet_ratio"),
      ellipsisRatio.as("ellipsis_ratio"),
      failed.as("n_rules_failed"),
      when(failed === 0L, lit(1L)).otherwise(lit(0L)).as("pass"))
  }

  /** Document fingerprint: md5 of the whitespace-collapsed, lowercased
    * text — the normalize-then-hash exact-dup key. (A content-defined
    * rolling-hash variant lives in Dedup.simhash for near-dup use.)
    */
  def fingerprint(text: Column): Column =
    md5(Normalize.collapseWs(lower(coalesce(text, lit("")))))

  /** A deterministic 60-bit integer hash derived from md5 — used where
    * the hash value itself must be reproducible outside the JVM
    * (unlike xxhash64, md5 is identical in every engine).
    */
  def md5Long(c: Column): Column =
    conv(substring(md5(c.cast(StringType)), 1, 15), 16, 10).cast(LongType)
}

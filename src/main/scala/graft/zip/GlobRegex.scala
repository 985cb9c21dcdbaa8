package graft.zip

/** Wax-style glob → Java regex translator.
  *
  * The reference filters zip entry names with `wax::Glob`
  * (reference: src/builder.rs:31,170 compile; src/builder.rs:34-37,180-183
  * apply; flag at src/main.rs:38-40). Wax semantics we reproduce:
  *   - `**` matches any number of path segments (crosses `/`)
  *   - `*`  matches within a single segment (no `/`)
  *   - `?`  matches exactly one non-`/` character
  *   - `[abc]`, `[a-z]`, `[!a-z]` character classes (no `/` inside)
  *   - `{a,b}` alternation
  * A malformed glob raises [[InvalidGlobException]] — the reference declared
  * `Error::InvalidWaxGlob` but never constructed it and panicked instead
  * (src/error.rs:28-31, src/builder.rs:31 `unwrap()`); we fix that (B4).
  */
object GlobRegex {

  final class InvalidGlobException(glob: String, val detail: String)
      extends IllegalArgumentException(s"invalid glob '$glob': $detail")

  /** Translate a glob to an anchored Java regex string. */
  def translate(glob: String): String = {
    val sb = new StringBuilder("^")
    val n = glob.length
    var i = 0
    var braceDepth = 0
    while (i < n) {
      glob.charAt(i) match {
        case '*' =>
          if (i + 1 < n && glob.charAt(i + 1) == '*') {
            // `**/` or trailing `**` — match zero or more whole segments.
            // (The loop adds 1 more: total consumed = 3 for `**/`, 2 for `**`.)
            if (i + 2 < n && glob.charAt(i + 2) == '/') { sb ++= "(?:[^/]*/)*"; i += 2 }
            else { sb ++= ".*"; i += 1 }
          } else sb ++= "[^/]*"
        case '?' => sb ++= "[^/]"
        case '[' =>
          val close = findClassEnd(glob, i)
          if (close < 0) throw new InvalidGlobException(glob, s"unclosed '[' at $i")
          val body0 = glob.substring(i + 1, close)
          val body = if (body0.startsWith("!")) "^" + body0.tail else body0
          sb ++= "[" ++= body.replace("\\", "\\\\") ++= "]"
          i = close
        case '{' => braceDepth += 1; sb ++= "(?:"
        case '}' =>
          if (braceDepth == 0) throw new InvalidGlobException(glob, s"unmatched '}' at $i")
          braceDepth -= 1; sb += ')'
        case ',' if braceDepth > 0 => sb += '|'
        case c if "\\.[]{}()*+?^$|".indexOf(c) >= 0 => sb += '\\' += c
        case c => sb += c
      }
      i += 1
    }
    if (braceDepth != 0) throw new InvalidGlobException(glob, "unclosed '{'")
    sb += '$'
    sb.result()
  }

  private def findClassEnd(glob: String, open: Int): Int = {
    var j = open + 1
    if (j < glob.length && (glob.charAt(j) == '!' || glob.charAt(j) == '^')) j += 1
    if (j < glob.length && glob.charAt(j) == ']') j += 1 // literal ] first
    while (j < glob.length && glob.charAt(j) != ']') j += 1
    if (j >= glob.length) -1 else j
  }

  /** Translate and compile. A glob that translates but is no valid regex
    * (e.g. the reversed range `[z-a]`) also raises [[InvalidGlobException]],
    * with the regex error's one-line description. */
  def compile(glob: String): java.util.regex.Pattern =
    try java.util.regex.Pattern.compile(translate(glob))
    catch {
      case e: java.util.regex.PatternSyntaxException =>
        throw new InvalidGlobException(glob, e.getDescription)
    }
}

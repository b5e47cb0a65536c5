#!/usr/bin/env python3
"""Kernel parity of two trees, e.g. a parent commit and a change: the
spans and errors of `graft.sgml.SgmlParser.spans(text, cfg)` for one
fixed, seeded corpus, parsed by each tree's program and compared.

    python3 scripts/kernel_parity.py PARENT_DIR CHANGE_DIR [--seed 7] [--show 3] [--reuse]

Each tree's program is built by its own `perfbench/build.py` (no sbt); a
small dump program, which calls nothing but `SgmlParser.spans`, is
compiled against that build and run over the corpus. The corpus holds
fixture-like documents, random fragment documents (the chunk fuzzer's
alphabet), extract_small- and curate-shaped documents and the hostile
families, each under several (dialect, space, strip, validate) configs.

Prints the number of parses, how many are identical, and every kind of
difference: whether the spans differ, and the error codes only one side
reports, with the count and `--show` examples of each. With `--reuse`,
each tree also parses the corpus in shuffled order through one
`SgmlParser(cfg, SpanSink.spans(cfg))` per config, reused through
`reset` as a Spark thread reuses its parser (a parse that throws drops
its parser), and that dump is compared with the tree's
fresh-parser dump, and the parent's with the change's. Every config
resolves a catalog DTD with `#CURRENT` and SHORTREF, which some
documents name. Exits 1 when any parse differs, 0 otherwise. Writes nothing in either tree except
perfbench's own build directory; the dumps go to a temporary directory
(kept with `--keep`).
"""
import argparse
import collections
import os
import random
import shutil
import subprocess
import sys
import tempfile

DUMP = r'''
import graft.sgml._

object KernelDump {
  private def esc(s: String): String =
    if (s == null) "\\0"
    else s.flatMap {
      case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
      case '|' => "\\p"; case ';' => "\\s"; case c => c.toString
    }

  private def unhex(h: String): String =
    new String(h.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray, "UTF-8")

  private val catalog = Catalog.Resolver(
    Catalog.bundled.entries :+ Catalog.Entry("SYSTEM", "memo.dtd", "memo.dtd"),
    Catalog.bundled.store + ("memo.dtd" -> DtdParser.parseSubset(
      "<!ELEMENT memo - - (para+)><!ELEMENT para - O (#PCDATA)>" +
        "<!ATTLIST para style CDATA #CURRENT><!ENTITY mk \"#\">" +
        "<!SHORTREF m \"--\" mk><!USEMAP m memo>", Dtd.empty, foldCase = true)._1))

  def main(args: Array[String]): Unit = {
    val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(args(1)), "UTF-8"))
    val src = scala.io.Source.fromFile(args(0), "UTF-8")
    // "reuse": one parser per config, as a Spark thread reuses its parser
    val parsers = scala.collection.mutable.Map.empty[ParserConfig, (SgmlParser, SpanSink[Span])]
    for (line <- src.getLines()) {
      val Array(id, dialect, space, strip, validate, hex) = line.split("\t", -1)
      val cfg = ParserConfig(dialect = Dialect.parse(dialect), space = SpaceMode.parse(space),
        boilerplate = strip == "1", validate = validate == "1", catalog = catalog)
      val row = try {
        val (spans, errs) = if (args.length < 3) SgmlParser.spans(unhex(hex), cfg) else {
          // checked out: only a completed parse puts its parser back
          val (p, sink) = parsers.remove(cfg).getOrElse { val s = SpanSink.spans(cfg); (new SgmlParser(cfg, s), s) }
          val r = p.reset().feed(unhex(hex), 0).finish()
          parsers(cfg) = (p, sink)
          (sink.result, r.errors)
        }
        spans.map(s => s"${s.kind}|${esc(s.text)}|${esc(s.media_ref)}|${s.offset}").mkString(";") +
          "\t" + errs.map(e => s"${e.code}|${e.offset}|${esc(e.detail)}").mkString(";")
      } catch { case e: Exception => "THROW\t" + esc(e.toString) }
      out.println(id + "\t" + row)
    }
    src.close()
    out.close()
  }
}
'''

DIALECTS = ["sgml", "html4", "html5", "xml", "xmlns", "xhtml", "xhtml5"]
SPACES = ["preserve", "sgml", "default", "remove", "strict"]

# the chunk fuzzer's fragment alphabet plus repair, entity, marked-section,
# media, namespace and newline shapes
FRAGMENTS = [
    "plain text ", "a<b", "x & y", "&amp;", "&#65;", "&#x42;", "&nbsp;",
    "&nope;", "&unterminated ", "<p>", "</p>", "<div class='c'>", "</div>",
    "<ul><li>one<li>two</ul>", "<br>", "<br/>", "<img src='u.png'>",
    "<option selected>", "<!-- comment -->", "<!-- -- -->", "<?pi data?>",
    "<![CDATA[raw ]] text]]>", "<![INCLUDE[in]]>", "<![IGNORE[out]]>",
    "<![ TEMP [t]]>", "<script>if(a<b){x()}</script>",
    "<script>a</sx b</script>", "<script></scr</script>",
    "<title>t&amp;t</title>", "<textarea>r&lt;c</textarea>",
    "</>", "</nope>", "<a<b>", "<a b=>", "<a b='v'", "]]>", "]]", "/",
    "<!DOCTYPE d [<!ENTITY e \"ee\">]>", "&e;", "<em>t</em>",
    "<table><tr><td>c</table>", "\n", "  ", "é中☃",
    "\r\n", "\r", "a\rb", "<pre>x\r\ny</pre>", "&#13;",
    "&longrightarrow;", "&NotEqualTilde;", "&varnothing", "<source src=a>",
    "<table><tr><td>a<td>b<tr><td>c</table>", "<p>one<p>two", "<dl><dt>t<dd>d</dl>",
    "<select><option>a<option>b</select>", "<li>x", "<html><body>",
    "&#6", "&amp", "&x", "&", "<![ RCDATA [r &amp; <i>]]>", "<![INCLUDE[\ni\n]]>",
    "<video src=v>", "<object data=o.bin></object>", "<iframe src=f>x</iframe>",
    "<nav><a href=x>links links links links</a></nav>", "<a>aaaaaaaaaaaaaaaaaaaaaaaa</a>",
    "<div><a>aaaaaaaaaaaaaaaaaaaaaa</a>b</div>", "<head><title>t</title></head>",
    "<pre>\nx\n</pre>", "<p>\n", "\n</p>", " x\n", "<d xml:space='preserve'>\n a \n</d>",
    "<x:y xmlns:x='u'>n</x:y>", "<q:z>w</q:z>", "<d xmlns='urn:d'><e/>t</d>",
]

FIXTURES = [
    "<doc><a>hello</a> <b>world</b></doc>", "<d>a &amp; b &#65;&#x42;</d>",
    "<d>x<![CDATA[<not &markup;>]]>y</d>", "<d><?target data?>t</d>",
    "<ul><li>one<li>two</ul>", "<table><tr><td>x</table>", "<html><title>t</title><p>y</html>",
    "<p>a&nbsp;b &copy;</p>", "<script>if (a<b && c>d) {}</script>",
    "<p>see <img src=\"pic.png\"> here</p>", "<d xmlns:s=\"urn:x\"><s:a>t</s:a></d>",
    "<d xmlns=\"urn:y\" a=\"1\"><e b=\"2\">t</e></d>", "<d>x <b/bold/ y</d>",
    "<d>\nline\n</d>", "<d>\n\n<e>\n</e>\n</d>", "<p>a <b>bold</p> tail",
    "<d>a<![INCLUDE[b]]>c</d>", "<d>a<![IGNORE[b]]>c</d>",
    "<d>x<![ RCDATA [ y </d> &amp; <b>]]>z</d>", "<d>a&unknown;b</d>",
    "<!DOCTYPE d [<!ENTITY frag \"<b>x</b>\">]><d>a&frag;c</d>", "<d>a<!-- c -->b</d>",
    "<d>abc &amp", "<d>abc &#6", "<d>abc &x", "<r xmlns:p=\"u\">text <q:e/></r>",
    "<!DOCTYPE r [<!ELEMENT r (a, b)><!ELEMENT a (#PCDATA)><!ELEMENT b EMPTY>"
    "<!ELEMENT c (#PCDATA)><!ATTLIST a t (x|y) \"x\">]><r><a t=\"z\">one</a><c>two</c>three</r>",
    "<!DOCTYPE l [<!ELEMENT l - - (i)+><!ELEMENT i - O (#PCDATA)>]><l><i>one<i>two</l>",
    "<!DOCTYPE d [<!ELEMENT d - - (#PCDATA)><!ENTITY mk \"#\"><!SHORTREF m \"--\" mk>"
    "<!USEMAP m d>]><d>a--b--c</d>",
    "<html xmlns=\"http://www.w3.org/1999/xhtml\"><body><p>a&nbsp;b</p></body></html>",
    "<p>x &longrightarrow; y &eacute;</p>", "<d a=\"x&amp", "<title>a &amp",
    "<!DOCTYPE memo SYSTEM \"memo.dtd\"><memo><para style=x>a--b<para>c</memo>",
    "<!DOCTYPE memo SYSTEM \"memo.dtd\"><memo><para>d--e</memo>",
    "<!DOCTYPE memo [<!ATTLIST para n CDATA #CURRENT>]><memo><para n=1>f<para>g</memo>",
]

WORDS = ("batch part spark line column order small sort fast value scan a hash slow "
         "group agg filter query big key window row stream table data merge the join").split()


def corpus(seed):
    """(id, dialect, space, strip, validate, text) rows."""
    rng = random.Random(seed)
    rows = []

    def add(kind, docs, configs):
        for i, doc in enumerate(docs):
            for d, s, strip, val in configs:
                rows.append((f"{kind}:{i}:{d}:{s}:{strip}:{val}", d, s, strip, val, doc))

    every = [(d, s, strip, 0) for d in DIALECTS for s in SPACES for strip in (0, 1)]
    add("fixture", FIXTURES, every + [(d, "preserve", 0, 1) for d in DIALECTS])
    add("fragments", ["".join(rng.choice(FRAGMENTS) for _ in range(rng.randint(1, 12)))
                      for _ in range(300)], every)

    def text():
        return " ".join(rng.choice(WORDS) for _ in range(rng.randint(8, 96)))
    small = ["<html><body><p>" + text() + "<p>tail</body></html>" for _ in range(200)]
    curate = []
    for _ in range(200):
        paras = "".join(f"<p>{text()}" + (" <b>bold" if rng.random() < 0.2 else "")
                        for _ in range(rng.randint(1, 4)))
        curate.append(f"<html><head><title>{text()[:30]}</title></head><body>"
                      f"<nav><a href=x>{text()[:40]}</a></nav>{paras}</body></html>")
    shaped = [(d, s, strip, 0) for d in ("html4", "html5", "xhtml", "sgml")
              for s in ("preserve", "sgml", "remove") for strip in (0, 1)]
    add("small", small, shaped)
    add("curate", curate, shaped)

    n = lambda lo, hi: rng.randint(lo, hi)
    hostile = []
    for _ in range(4):
        k, fan = n(3, 4), n(5, 20)
        chain = "<!ENTITY e0 \"xxxxxxxxxx\">" + "".join(
            f"<!ENTITY e{j} \"" + f"&e{j - 1};" * fan + "\">" for j in range(1, k + 1))
        hostile.append(f"<!DOCTYPE d [{chain}]><d>&e{k};</d>")
        depth = n(40, 400)
        hostile.append("<!DOCTYPE r [<!ELEMENT r " + "(" * depth + "a" + ")" * depth + ">]><r>x</r>")
        hostile.append("<div>" * n(200, 3000) + "deep")
        hostile.append("<p>" + "<b>x</b>" * n(100, 2000) + "</p>")
        for op in ("<!--", "<![CDATA[", "<![ IGNORE [", "<?pi "):
            hostile.append("<d>x" + op + "<d y ]] " * n(0, 300))
        for kw in ("INCLUDE", "TEMP", "RCDATA"):
            hostile.append(f"<d>x<![ {kw} [" + "<d>y ]] &amp; " * n(0, 300))
        hostile.append("<d>x" + rng.choice(["<", "<!"]))
        hostile.append("<d " + " ".join(f"a{j}='v'" for j in range(n(100, 3000))) + ">t</d>")
    add("hostile", hostile, [(d, s, strip, 0) for d in ("xml", "html4")
                             for s in ("preserve", "sgml") for strip in (0, 1)])
    return rows


def classpath(tree):
    r = subprocess.run([sys.executable, os.path.join(tree, "perfbench", "build.py")],
                       cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.PIPE)
    if r.returncode != 0:
        sys.exit(f"build failed in {tree}: {r.stderr.decode(errors='replace')}")
    return r.stdout.decode().strip().splitlines()[-1]


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def dump(tree, work, name, corpus_files):
    """The fresh dump of corpus_files[0], and with a second (shuffled)
    corpus file also its reused-parser dump."""
    cp = classpath(tree)
    classes = os.path.join(work, name + "-classes")
    os.makedirs(classes)
    src = os.path.join(work, "KernelDump.scala")
    jars = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars", "*")
    subprocess.run([java(), "-Xss8m", "-cp", jars, "scala.tools.nsc.Main", "-nowarn",
                    "-d", classes, "-classpath", cp, src], check=True)
    dumps = []
    for i, corpus_file in enumerate(corpus_files):
        out = os.path.join(work, f"{name}-{i}.tsv")
        subprocess.run([java(), "-Xss16m", "-Xmx1g", "-cp", os.pathsep.join([classes, cp]),
                        "KernelDump", corpus_file, out] + (["reuse"] if i else []), check=True)
        with open(out, encoding="utf-8") as f:
            dumps.append(dict(line.rstrip("\n").split("\t", 1) for line in f))
    return dumps


def codes(errs):
    return collections.Counter(e.split("|", 1)[0] for e in errs.split(";") if e)


def compare(docs, a, b, names, show):
    """Print how dump `b` differs from dump `a`; the number of differences."""
    kinds = collections.defaultdict(list)
    for key in docs:
        p, c = a[key], b[key]
        if p == c:
            continue
        (ps, pe), (cs, ce) = p.split("\t", 1), c.split("\t", 1)
        gone, new = codes(pe) - codes(ce), codes(ce) - codes(pe)
        kind = ("spans differ" if ps != cs else "spans equal") + \
            (f"; {names[0]} only: {dict(gone)}" if gone else "") + \
            (f"; {names[1]} only: {dict(new)}" if new else "") + \
            ("; error offsets/details differ" if pe != ce and not gone and not new else "")
        kinds[kind].append(key)
    differ = sum(len(v) for v in kinds.values())
    print(f"{names[0]} vs {names[1]}: {len(docs)} parses ({len(set(docs.values()))} distinct "
          f"documents): {len(docs) - differ} identical, {differ} differ")
    for kind, keys in sorted(kinds.items(), key=lambda kv: -len(kv[1])):
        print(f"\n{len(keys)} × {kind}")
        for key in keys[:show]:
            print(f"  {key}  doc={docs[key][:100]!r}")
            print(f"    {names[0]}: {a[key][:300]}")
            print(f"    {names[1]}: {b[key][:300]}")
    return differ


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--show", type=int, default=3, help="examples per kind of difference")
    ap.add_argument("--keep", action="store_true", help="keep the corpus and the dumps")
    ap.add_argument("--reuse", action="store_true",
                    help="also parse in shuffled order through one reused parser per config")
    a = ap.parse_args()

    rows = corpus(a.seed)
    work = tempfile.mkdtemp(prefix="kernel_parity-")
    try:
        files = [os.path.join(work, "corpus.tsv")]
        orders = [rows]
        if a.reuse:
            files.append(os.path.join(work, "corpus-shuffled.tsv"))
            orders.append(random.Random(a.seed + 1).sample(rows, len(rows)))
        for path, order in zip(files, orders):
            with open(path, "w", encoding="utf-8") as f:
                for r in order:
                    f.write("\t".join(map(str, r[:5])) + "\t" + r[5].encode("utf-8").hex() + "\n")
        with open(os.path.join(work, "KernelDump.scala"), "w") as f:
            f.write(DUMP)
        sides = {n: dump(os.path.abspath(t), work, n, files)
                 for n, t in (("parent", a.parent), ("change", a.change))}
    finally:
        if a.keep:
            print(f"corpus and dumps kept in {work}")
        else:
            shutil.rmtree(work, ignore_errors=True)

    docs = {r[0]: r[5] for r in rows}
    differ = compare(docs, sides["parent"][0], sides["change"][0], ("parent", "change"), a.show)
    if a.reuse:
        for n in ("parent", "change"):
            print()
            differ += compare(docs, sides[n][0], sides[n][1], (f"{n} fresh", f"{n} reused"), a.show)
        print()
        differ += compare(docs, sides["parent"][1], sides["change"][1],
                          ("parent reused", "change reused"), a.show)
    sys.exit(1 if differ else 0)


if __name__ == "__main__":
    main()

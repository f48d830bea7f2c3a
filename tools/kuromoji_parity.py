"""Compiled-reference parity fuzz for functions/kuromoji.py.

Protocol (the only honest one in this checkout — the stock ja system
dictionary ships WITHOUT ``TokenInfoDictionary$buffer.dat``, so neither
engine can run it):

  1. compile lucene-core (tools/build_ref_core.py) + the analysis-common
     ``morph`` framework + the kuromoji ``ja`` package on JDK 17;
  2. author a mecab-IPADIC-format input (dictionary.csv with ambiguous
     segmentations and long compounds, matrix.def, char.def, unk.def)
     and run the REFERENCE's own ``DictionaryBuilder`` over it — the
     binary output is the real TokenInfoDictionary/UnknownDictionary/
     ConnectionCosts format, FST included;
  3. the compiled ``JapaneseTokenizer`` (custom-dictionary constructor,
     its documented entry point) and the python Viterbi both run over
     that SAME binary directory — plus the REAL in-tree
     ``CharacterDefinition.dat`` (the compiled UnknownDictionary loads
     it from the classpath singleton, so the resources dir rides the
     -cp and the python side reads the identical file);
  4. token streams (term, start, end, posInc, posLength) are compared
     for every mode arm: NORMAL, SEARCH (discardCompound on/off),
     EXTENDED, and keepPunctuation variants.

Run: python tools/kuromoji_parity.py [n_cases] [seed]  (default 3000, 42)
"""
from __future__ import annotations

import base64
import glob
import os
import random
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucene_spark.functions.stempel import ref_dir  # noqa: E402

LUCORE = "/tmp/lucore"
ROOT = "/tmp/kuromojiparity"
SRC = os.path.join(ROOT, "src")
OUT = os.path.join(ROOT, "classes")
MECAB = os.path.join(ROOT, "mecab")
DICT_OUT = os.path.join(ROOT, "dict")
REF = os.path.join(ref_dir(), "lucene/analysis")
JA_RES = f"{REF}/kuromoji/src/resources"
REAL_CHARDEF = (f"{JA_RES}/org/apache/lucene/analysis/ja/dict/"
                "CharacterDefinition.dat")

# ------------------------------------------------- synthetic IPADIC input

N_IDS = 24  # left/right context-id space (BOS/EOS = 0)


def _cost(left: int, right: int) -> int:
    """Deterministic pseudo-random connection matrix."""
    h = (left * 2654435761 + right * 40503) & 0xFFFF
    return (h % 4001) - 2000


def _entries():
    """surface, leftId, rightId, wordCost, pos — ambiguity on purpose:
    compounds share prefixes/suffixes with their parts so NORMAL and
    SEARCH modes genuinely diverge."""
    E = [
        ("東", 2, 2, 4000, "名詞"), ("京", 2, 2, 4500, "名詞"),
        ("都", 2, 2, 4200, "名詞"), ("東京", 3, 3, 3000, "名詞"),
        ("京都", 3, 3, 3100, "名詞"), ("大学", 3, 3, 2900, "名詞"),
        ("大", 21, 21, 5000, "接頭詞"), ("学", 2, 2, 5100, "名詞"),
        ("東京大学", 4, 4, 5500, "名詞"),
        ("国際", 3, 3, 3200, "名詞"), ("空港", 3, 3, 3300, "名詞"),
        ("関西", 3, 3, 3050, "名詞"), ("関西国際空港", 4, 4, 7000, "名詞"),
        ("国", 2, 2, 4800, "名詞"), ("際", 2, 2, 5200, "名詞"),
        ("空", 2, 2, 4900, "名詞"), ("港", 2, 2, 4700, "名詞"),
        ("の", 5, 5, 100, "助詞"), ("に", 5, 5, 150, "助詞"),
        ("は", 5, 5, 120, "助詞"), ("を", 5, 5, 130, "助詞"),
        ("が", 5, 5, 140, "助詞"), ("で", 5, 5, 160, "助詞"),
        ("行く", 7, 7, 2500, "動詞"), ("行き", 8, 8, 2600, "動詞"),
        ("ます", 9, 9, 500, "助動詞"), ("まし", 10, 10, 600, "助動詞"),
        ("た", 23, 23, 300, "助動詞"), ("する", 7, 7, 2400, "動詞"),
        ("し", 22, 22, 2700, "動詞"), ("私", 2, 2, 3800, "名詞"),
        ("これ", 6, 6, 3500, "名詞"), ("それ", 6, 6, 3600, "名詞"),
        ("です", 9, 9, 450, "助動詞"),
        ("コンピュータ", 11, 11, 3400, "名詞"),
        ("データ", 11, 11, 3450, "名詞"),
        ("デ", 11, 11, 6000, "名詞"), ("タ", 11, 11, 6100, "名詞"),
        ("ー", 11, 11, 6500, "名詞"),
        ("一", 12, 12, 4600, "名詞"), ("二", 12, 12, 4650, "名詞"),
        ("一二三", 13, 13, 6800, "名詞"),
        ("日本", 3, 3, 2950, "名詞"), ("日", 2, 2, 4400, "名詞"),
        ("本", 2, 2, 4300, "名詞"), ("日本語", 4, 4, 4100, "名詞"),
        ("語", 2, 2, 5050, "名詞"),
        ("あい", 6, 6, 3900, "名詞"), ("あいう", 6, 6, 5600, "名詞"),
        ("うえ", 6, 6, 3950, "名詞"), ("え", 6, 6, 5300, "名詞"),
        ("う", 6, 6, 5400, "名詞"),
    ]
    return E


def write_mecab_input() -> None:
    shutil.rmtree(MECAB, ignore_errors=True)
    os.makedirs(MECAB)
    with open(os.path.join(MECAB, "dictionary.csv"), "w",
              encoding="utf-8") as f:
        for surface, l, r, c, pos in _entries():
            # 13 IPADIC fields: surface,l,r,cost,pos1-4,inflType,inflForm,
            # baseform,reading,pronunciation
            f.write(f"{surface},{l},{r},{c},{pos},一般,*,*,*,*,"
                    f"{surface},*,*\n")
    with open(os.path.join(MECAB, "matrix.def"), "w") as f:
        f.write(f"{N_IDS} {N_IDS}\n")
        for l in range(N_IDS):
            for r in range(N_IDS):
                f.write(f"{l} {r} {_cost(l, r)}\n")
    # unk.def: 11 fields + builder appends ,*,*; one entry per category,
    # two for KATAKANA (multiple unk wordIDs per class)
    unks = [
        ("DEFAULT", 14, 14, 4769), ("SPACE", 14, 14, 4769),
        ("KANJI", 15, 15, 6000), ("SYMBOL", 16, 16, 9000),
        ("NUMERIC", 17, 17, 7000), ("ALPHA", 18, 18, 6500),
        ("HIRAGANA", 19, 19, 6800), ("KATAKANA", 20, 20, 6600),
        ("KATAKANA", 20, 20, 7200), ("KANJINUMERIC", 15, 15, 6200),
        ("GREEK", 18, 18, 6900), ("CYRILLIC", 18, 18, 6950),
    ]
    with open(os.path.join(MECAB, "unk.def"), "w", encoding="utf-8") as f:
        for name, l, r, c in unks:
            f.write(f"{name},{l},{r},{c},名詞,一般,*,*,*,*,*\n")
    # char.def: flags are builder-side only (runtime uses the real
    # in-tree CharacterDefinition.dat singleton) but must parse
    with open(os.path.join(MECAB, "char.def"), "w", encoding="utf-8") as f:
        f.write("DEFAULT 0 1 0\nSPACE 0 1 0\nKANJI 0 0 2\nSYMBOL 1 1 0\n"
                "NUMERIC 1 1 0\nALPHA 1 1 0\nHIRAGANA 1 1 2\n"
                "KATAKANA 1 1 2\nKANJINUMERIC 1 1 0\nGREEK 1 1 0\n"
                "CYRILLIC 1 1 0\n"
                "0x0020 SPACE\n0x0030..0x0039 NUMERIC\n"
                "0x0041..0x005A ALPHA\n0x0061..0x007A ALPHA\n"
                "0x3041..0x309F HIRAGANA\n0x30A1..0x30FF KATAKANA\n"
                "0x4E00..0x9FFF KANJI\n")


DRIVER = r"""
import java.io.*;
import java.nio.file.*;
import java.util.Base64;
import org.apache.lucene.analysis.ja.JapaneseTokenizer;
import org.apache.lucene.analysis.ja.dict.*;
import org.apache.lucene.analysis.tokenattributes.*;
import org.apache.lucene.util.AttributeFactory;

public class KuromojiDriver {
  public static void main(String[] args) throws Exception {
    Path d = Path.of(args[0]);
    String mode = args[1];
    boolean discardPunct = Boolean.parseBoolean(args[2]);
    UserDictionary user = null;
    if (args.length > 3 && !args[3].equals("-")) {
      try (java.io.Reader r = Files.newBufferedReader(Path.of(args[3]))) {
        user = UserDictionary.open(r);
      }
    }
    TokenInfoDictionary sys = new TokenInfoDictionary(
        d.resolve("TokenInfoDictionary$targetMap.dat"),
        d.resolve("TokenInfoDictionary$posDict.dat"),
        d.resolve("TokenInfoDictionary$buffer.dat"),
        d.resolve("TokenInfoDictionary$fst.dat"));
    UnknownDictionary unk = new UnknownDictionary(
        d.resolve("UnknownDictionary$targetMap.dat"),
        d.resolve("UnknownDictionary$posDict.dat"),
        d.resolve("UnknownDictionary$buffer.dat"));
    ConnectionCosts cc = new ConnectionCosts(d.resolve("ConnectionCosts.dat"));
    JapaneseTokenizer.Mode m;
    boolean discardCompound = true;
    switch (mode) {
      case "normal": m = JapaneseTokenizer.Mode.NORMAL; break;
      case "search": m = JapaneseTokenizer.Mode.SEARCH; break;
      case "searchc": m = JapaneseTokenizer.Mode.SEARCH; discardCompound = false; break;
      case "extended": m = JapaneseTokenizer.Mode.EXTENDED; break;
      default: throw new IllegalArgumentException(mode);
    }
    BufferedReader in = new BufferedReader(new InputStreamReader(System.in, "US-ASCII"));
    PrintWriter out = new PrintWriter(new OutputStreamWriter(System.out, "US-ASCII"));
    String line;
    while ((line = in.readLine()) != null) {
      byte[] raw = Base64.getDecoder().decode(line);
      char[] cs = new char[raw.length / 2];
      for (int i = 0; i < cs.length; i++)
        cs[i] = (char)(((raw[2*i] & 0xFF) << 8) | (raw[2*i+1] & 0xFF));
      JapaneseTokenizer tok = new JapaneseTokenizer(
          AttributeFactory.DEFAULT_ATTRIBUTE_FACTORY, sys, unk, cc, user,
          discardPunct, discardCompound, m);
      tok.setReader(new StringReader(new String(cs)));
      CharTermAttribute term = tok.getAttribute(CharTermAttribute.class);
      OffsetAttribute off = tok.getAttribute(OffsetAttribute.class);
      PositionIncrementAttribute inc = tok.getAttribute(PositionIncrementAttribute.class);
      PositionLengthAttribute plen = tok.getAttribute(PositionLengthAttribute.class);
      StringBuilder sb = new StringBuilder();
      tok.reset();
      while (tok.incrementToken()) {
        String t = term.toString();
        byte[] tb = new byte[t.length() * 2];
        for (int i = 0; i < t.length(); i++) {
          tb[2*i] = (byte)(t.charAt(i) >> 8); tb[2*i+1] = (byte)(t.charAt(i) & 0xFF);
        }
        sb.append(off.startOffset()).append(':').append(off.endOffset())
          .append(':').append(inc.getPositionIncrement()).append(':')
          .append(plen.getPositionLength()).append(':')
          .append(Base64.getEncoder().encodeToString(tb)).append('\t');
      }
      tok.end(); tok.close();
      out.println(sb.toString());
      out.flush();
    }
  }
}
"""


def compile_all() -> None:
    import tools.build_ref_core as brc

    brc.build()
    os.makedirs(SRC, exist_ok=True)
    ja_dst = os.path.join(SRC, "org/apache/lucene/analysis/ja")
    if not os.path.exists(ja_dst):
        shutil.copytree(f"{REF}/kuromoji/src/java/org/apache/lucene/"
                        "analysis/ja", ja_dst)
        # out of scope for the tokenizer driver: factories (SPI),
        # completion (suggest dep), analyzers (CharArraySet loaders ok
        # but stopword resources unneeded), charfilter
        shutil.rmtree(os.path.join(ja_dst, "completion"))
        for name in os.listdir(ja_dst):
            if name.endswith("Factory.java"):
                os.remove(os.path.join(ja_dst, name))
        morph_dst = os.path.join(SRC, "org/apache/lucene/analysis/morph")
        shutil.copytree(f"{REF}/common/src/java/org/apache/lucene/"
                        "analysis/morph", morph_dst)
        util_dst = os.path.join(SRC, "org/apache/lucene/analysis/util")
        os.makedirs(util_dst)
        for n in ("RollingCharBuffer.java", "CSVUtil.java"):
            shutil.copy(f"{REF}/common/src/java/org/apache/lucene/"
                        f"analysis/util/{n}", util_dst)
    with open(os.path.join(SRC, "KuromojiDriver.java"), "w") as f:
        f.write(DRIVER)
    os.makedirs(OUT, exist_ok=True)
    # iterative JDK-17 downgrade loop (build_ref_core discipline)
    import re as _re

    import tools.build_ref_core as _b

    for round_ in range(8):
        p = subprocess.run(
            ["javac", "-encoding", "UTF-8", "-nowarn", "-Xmaxerrs", "200",
             "-cp", LUCORE, "-sourcepath", SRC, "-d", OUT,
             os.path.join(SRC, "KuromojiDriver.java"),
             # not referenced by the driver -> must be listed explicitly
             os.path.join(SRC, "org/apache/lucene/analysis/ja/dict/"
                               "DictionaryBuilder.java"),
             # attribute *Impl classes resolve by reflection at runtime
             *glob.glob(os.path.join(
                 SRC, "org/apache/lucene/analysis/ja/tokenattributes/"
                      "*.java"))],
            capture_output=True, text=True)
        errs = [l for l in p.stderr.splitlines() if " error: " in l]
        if not errs:
            return
        by_file = {}
        for e in errs:
            parts = e.split(":")
            by_file.setdefault(parts[0], set()).add(int(parts[1]))
        counter = [0]
        changed = 0
        for fpath, lns in by_file.items():
            lines = open(fpath, encoding="utf-8").read().splitlines(
                keepends=True)
            for ln in lns:
                new = _b._patch_line(lines[ln - 1], counter)
                if new != lines[ln - 1]:
                    lines[ln - 1] = new
                    changed += 1
            open(fpath, "w", encoding="utf-8").write("".join(lines))
        if changed == 0:
            print("\n".join(errs[:10]))
            raise RuntimeError("patcher stuck")
    raise RuntimeError("did not converge")


def build_dict() -> None:
    write_mecab_input()
    shutil.rmtree(DICT_OUT, ignore_errors=True)
    os.makedirs(DICT_OUT)
    subprocess.run(
        ["java", "-cp", f"{OUT}:{LUCORE}",
         "org.apache.lucene.analysis.ja.dict.DictionaryBuilder",
         "ipadic", MECAB, DICT_OUT, "utf-8", "false"], check=True)
    # the builder writes under the java package path; flatten to the
    # dict root (the external-path ctors take explicit files)
    nested = os.path.join(DICT_OUT, "org/apache/lucene/analysis/ja/dict")
    for name in os.listdir(nested):
        shutil.copy(os.path.join(nested, name), DICT_OUT)
    # runtime character classes: BOTH engines read the REAL in-tree
    # CharacterDefinition.dat (compiled side: classpath singleton;
    # python side: this copy)
    shutil.copy(REAL_CHARDEF, os.path.join(DICT_OUT,
                                           "CharacterDefinition.dat"))


WORDS = [e[0] for e in _entries()]
EXTRA = ["日本経済新聞", "朝青龍", "abcd", "abcdefg", "test#テスト",
         "テスト#", "経済新聞", "関西国際",
         "みどり", "ひらがなだよ", "カタカナゴ", "ネコ", "abc", "XYZ",
         "123", "4567", "漢字領域", "燃", "犬猫", " ", "  ", "。", "、",
         "!", "(", ")", ".", "-", "\n", "\t", "α", "д", "ー"]


def gen_texts(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    out = ["", "東京大学", "関西国際空港に行きます", "私は日本語です",
           "これを一二三", "コンピュータデータ", "東京。京都、大学!",
           "漢字領域燃犬猫", "abc 123 XYZ", "あいうえ",
           "東京大学の関西国際空港"]
    pool = WORDS + EXTRA
    for _ in range(n):
        k = rng.randint(1, 10)
        out.append("".join(rng.choice(pool) for _ in range(k)))
    return out


def _b64(s: str) -> str:
    return base64.b64encode(s.encode("utf-16-be", "surrogatepass")).decode()


def _unb64(s: str) -> str:
    return base64.b64decode(s).decode("utf-16-be", "surrogatepass")


UDICT = f"{REF}/kuromoji/src/test/org/apache/lucene/analysis/ja/userdict.txt"


def py_stream(dicts, text, mode, discard_punct, user_dict=None):
    from lucene_spark.functions.kuromoji import tokenize

    discard_compound = mode != "searchc"
    m = "search" if mode == "searchc" else mode
    toks = tokenize(dicts, text, mode=m, discard_punctuation=discard_punct,
                    discard_compound=discard_compound, user_dict=user_dict)
    out = []
    last_pos = -1
    for t in toks:
        if t.start == last_pos:
            inc, plen = 0, t.pos_len
        else:
            inc, plen = 1, 1
        out.append((t.start, t.end, inc, plen, t.surface))
        last_pos = t.start
    return out


def main(n: int = 3000, seed: int = 42) -> int:
    from lucene_spark.functions.kuromoji import JaDicts

    compile_all()
    build_dict()
    dicts = JaDicts(DICT_OUT)
    texts = gen_texts(n, seed)
    payload = "\n".join(_b64(t) for t in texts) + "\n"
    from lucene_spark.functions.kuromoji import UserDictionary

    with open(UDICT, encoding="utf-8") as f:
        py_udict = UserDictionary(f.read())
    total_bad = 0
    for udict_path, py_ud in (("-", None), (UDICT, py_udict)):
        for mode in ("normal", "search", "searchc", "extended"):
            for discard_punct in (True, False):
                res = subprocess.run(
                    ["java", "-cp", f"{OUT}:{LUCORE}:{JA_RES}",
                     "KuromojiDriver", DICT_OUT, mode,
                     "true" if discard_punct else "false", udict_path],
                    input=payload, capture_output=True, text=True,
                    check=True)
                jlines = res.stdout.splitlines()
                assert len(jlines) == len(texts), (len(jlines), len(texts))
                bad = 0
                for text, jl in zip(texts, jlines):
                    exp = []
                    for part in jl.split("\t"):
                        if not part:
                            continue
                        s, e, inc, plen, t64 = part.split(":")
                        exp.append((int(s), int(e), int(inc), int(plen),
                                    _unb64(t64)))
                    got = py_stream(dicts, text, mode, discard_punct,
                                    py_ud)
                    if got != exp:
                        bad += 1
                        if bad <= 3:
                            print(f"MISMATCH mode={mode} "
                                  f"dp={discard_punct} "
                                  f"ud={udict_path != '-'} text={text!r}")
                            print("  java:", exp)
                            print("  py:  ", got)
                total_bad += bad
                print(f"ud={udict_path != '-'!s:5s} mode={mode:9s} "
                      f"discardPunct={discard_punct}: "
                      f"{len(texts)} texts, {bad} mismatches")
    return 1 if total_bad else 0


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 3000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 42
    sys.exit(main(n, seed))

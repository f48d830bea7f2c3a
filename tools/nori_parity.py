"""Compiled-reference parity fuzz for functions/nori.py (Korean).

The kuromoji_parity protocol on the ko module: the in-tree ko system
dictionary is even more incomplete in this checkout (no FST, no buffer,
no ConnectionCosts), so a synthetic mecab-ko-dic-format dictionary —
with COMPOUND and INFLECT entries so decompounding is real — is built by
the reference's OWN ko DictionaryBuilder, and the compiled
KoreanTokenizer (custom-dictionary constructor) and the python Viterbi
run over the same binary files + the real in-tree ko
``CharacterDefinition.dat``. Token streams (term, offsets, posInc,
posLength) compared across decompound modes NONE/DISCARD/MIXED ×
outputUnknownUnigrams × discardPunctuation arms.

Run: python tools/nori_parity.py [n_cases] [seed]  (default 2000, 42)
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
ROOT = "/tmp/noriparity"
SRC = os.path.join(ROOT, "src")
OUT = os.path.join(ROOT, "classes")
MECAB = os.path.join(ROOT, "mecab")
DICT_OUT = os.path.join(ROOT, "dict")
REF = os.path.join(ref_dir(), "lucene/analysis")
KO_RES = f"{REF}/nori/src/resources"
REAL_CHARDEF = (f"{KO_RES}/org/apache/lucene/analysis/ko/dict/"
                "CharacterDefinition.dat")

N_IDS = 24


def _cost(left: int, right: int) -> int:
    h = (left * 2654435761 + right * 40503) & 0xFFFF
    return (h % 4001) - 2000


def _entries():
    """mecab-ko-dic 12-field rows:
    surface,left,right,cost,pos,semClass,coda,reading,posType,leftPOS,
    rightPOS,expression. Compounds/Inflects decompose via expression."""
    E = [
        # simple morphemes (NNG nouns, particles, verb bits)
        ("한국", 2, 2, 3000, "NNG", "*", "T", "한국", "*", "*", "*", "*"),
        ("사람", 2, 2, 3100, "NNG", "*", "T", "사람", "*", "*", "*", "*"),
        ("학교", 2, 2, 3200, "NNG", "*", "F", "학교", "*", "*", "*", "*"),
        ("대", 3, 3, 5200, "NNG", "*", "F", "대", "*", "*", "*", "*"),
        ("학", 3, 3, 5300, "NNG", "*", "T", "학", "*", "*", "*", "*"),
        ("교", 3, 3, 5400, "NNG", "*", "F", "교", "*", "*", "*", "*"),
        ("은", 5, 5, 200, "JX", "*", "T", "은", "*", "*", "*", "*"),
        ("는", 5, 5, 210, "JX", "*", "T", "는", "*", "*", "*", "*"),
        ("이", 6, 6, 220, "JKS", "*", "F", "이", "*", "*", "*", "*"),
        ("가", 6, 6, 230, "JKS", "*", "F", "가", "*", "*", "*", "*"),
        ("을", 7, 7, 240, "JKO", "*", "T", "을", "*", "*", "*", "*"),
        ("를", 7, 7, 250, "JKO", "*", "F", "를", "*", "*", "*", "*"),
        ("하", 8, 8, 2500, "VV", "*", "F", "하", "*", "*", "*", "*"),
        ("다", 9, 9, 400, "EF", "*", "F", "다", "*", "*", "*", "*"),
        ("합니다", 10, 10, 1500, "VV", "*", "F", "합니다", "*", "*", "*", "*"),
        ("먹", 8, 8, 2600, "VV", "*", "T", "먹", "*", "*", "*", "*"),
        # COMPOUND: 대학교 = 대학 + 학교 (overlapping decompound forms)
        ("대학교", 4, 4, 4500, "NNG", "*", "F", "대학교", "Compound", "*", "*",
         "대학/NNG/*+교/NNG/*"),
        ("대학", 2, 2, 3300, "NNG", "*", "T", "대학", "*", "*", "*", "*"),
        # COMPOUND with 3 parts
        ("한국사람학교", 4, 4, 8000, "NNG", "*", "F", "한국사람학교", "Compound",
         "*", "*", "한국/NNG/*+사람/NNG/*+학교/NNG/*"),
        # INFLECT: 합니다-style contraction (different left/right POS)
        ("했다", 11, 11, 1800, "VV+EP+EF", "*", "F", "했다", "Inflect", "VV",
         "EF", "하/VV/*+았/EP/*+다/EF/*"),
        # latin/number entries so ascii also hits the known path sometimes
        ("abc", 12, 12, 4000, "SL", "*", "*", "abc", "*", "*", "*", "*"),
    ]
    return E


def write_mecab_input() -> None:
    shutil.rmtree(MECAB, ignore_errors=True)
    os.makedirs(MECAB)
    with open(os.path.join(MECAB, "dictionary.csv"), "w",
              encoding="utf-8") as f:
        for e in _entries():
            f.write(",".join(str(x) for x in e) + "\n")
    with open(os.path.join(MECAB, "matrix.def"), "w") as f:
        f.write(f"{N_IDS} {N_IDS}\n")
        for l in range(N_IDS):
            for r in range(N_IDS):
                f.write(f"{l} {r} {_cost(l, r)}\n")
    # unk.def rows: 12 fields like the dictionary (category as surface)
    unks = [
        ("DEFAULT", 14, 14, 4700), ("SPACE", 14, 14, 4700),
        ("HANGUL", 15, 15, 6100), ("HANJA", 16, 16, 6200),
        ("HANJANUMERIC", 16, 16, 6300), ("SYMBOL", 17, 17, 9000),
        ("NUMERIC", 18, 18, 7000), ("ALPHA", 19, 19, 6500),
        ("HIRAGANA", 20, 20, 6800), ("KATAKANA", 20, 20, 6600),
        ("KANJI", 16, 16, 6400), ("GREEK", 19, 19, 6900),
        ("CYRILLIC", 19, 19, 6950),
    ]
    with open(os.path.join(MECAB, "unk.def"), "w", encoding="utf-8") as f:
        for name, l, r, c in unks:
            f.write(f"{name},{l},{r},{c},NNG,*,*,*,*,*,*,*\n")
    with open(os.path.join(MECAB, "char.def"), "w", encoding="utf-8") as f:
        f.write("DEFAULT 0 1 0\nSPACE 0 1 0\nHANGUL 1 1 0\nHANJA 0 0 0\n"
                "HANJANUMERIC 1 1 0\nSYMBOL 1 1 0\nNUMERIC 1 1 0\n"
                "ALPHA 1 1 0\nHIRAGANA 1 1 2\nKATAKANA 1 1 2\n"
                "KANJI 0 0 2\nGREEK 1 1 0\nCYRILLIC 1 1 0\n"
                "0x0020 SPACE\n0x0030..0x0039 NUMERIC\n"
                "0x0041..0x005A ALPHA\n0x0061..0x007A ALPHA\n"
                "0xAC00..0xD7A3 HANGUL\n0x4E00..0x9FFF HANJA\n"
                "0x3041..0x309F HIRAGANA\n0x30A1..0x30FF KATAKANA\n")


DRIVER = r"""
import java.io.*;
import java.nio.file.*;
import java.util.Base64;
import org.apache.lucene.analysis.ko.KoreanTokenizer;
import org.apache.lucene.analysis.ko.dict.*;
import org.apache.lucene.analysis.tokenattributes.*;
import org.apache.lucene.util.AttributeFactory;

public class NoriDriver {
  public static void main(String[] args) throws Exception {
    Path d = Path.of(args[0]);
    KoreanTokenizer.DecompoundMode mode =
        KoreanTokenizer.DecompoundMode.valueOf(args[1].toUpperCase());
    boolean unigrams = Boolean.parseBoolean(args[2]);
    boolean discardPunct = Boolean.parseBoolean(args[3]);
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
    BufferedReader in = new BufferedReader(new InputStreamReader(System.in, "US-ASCII"));
    PrintWriter out = new PrintWriter(new OutputStreamWriter(System.out, "US-ASCII"));
    String line;
    while ((line = in.readLine()) != null) {
      byte[] raw = Base64.getDecoder().decode(line);
      char[] cs = new char[raw.length / 2];
      for (int i = 0; i < cs.length; i++)
        cs[i] = (char)(((raw[2*i] & 0xFF) << 8) | (raw[2*i+1] & 0xFF));
      KoreanTokenizer tok = new KoreanTokenizer(
          AttributeFactory.DEFAULT_ATTRIBUTE_FACTORY, sys, unk, cc, null,
          mode, unigrams, discardPunct);
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
    ko_dst = os.path.join(SRC, "org/apache/lucene/analysis/ko")
    if not os.path.exists(ko_dst):
        shutil.copytree(f"{REF}/nori/src/java/org/apache/lucene/"
                        "analysis/ko", ko_dst)
        for name in os.listdir(ko_dst):
            if name.endswith("Factory.java"):
                os.remove(os.path.join(ko_dst, name))
        morph_dst = os.path.join(SRC, "org/apache/lucene/analysis/morph")
        shutil.copytree(f"{REF}/common/src/java/org/apache/lucene/"
                        "analysis/morph", morph_dst)
        util_dst = os.path.join(SRC, "org/apache/lucene/analysis/util")
        os.makedirs(util_dst)
        for n in ("RollingCharBuffer.java", "CSVUtil.java"):
            shutil.copy(f"{REF}/common/src/java/org/apache/lucene/"
                        f"analysis/util/{n}", util_dst)
    with open(os.path.join(SRC, "NoriDriver.java"), "w") as f:
        f.write(DRIVER)
    os.makedirs(OUT, exist_ok=True)
    import tools.build_ref_core as _b

    for _round in range(8):
        p = subprocess.run(
            ["javac", "-encoding", "UTF-8", "-nowarn", "-Xmaxerrs", "200",
             "-cp", LUCORE, "-sourcepath", SRC, "-d", OUT,
             os.path.join(SRC, "NoriDriver.java"),
             os.path.join(SRC, "org/apache/lucene/analysis/ko/dict/"
                               "DictionaryBuilder.java"),
             *glob.glob(os.path.join(
                 SRC, "org/apache/lucene/analysis/ko/tokenattributes/"
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
         "org.apache.lucene.analysis.ko.dict.DictionaryBuilder",
         MECAB, DICT_OUT, "utf-8", "false"], check=True)
    nested = os.path.join(DICT_OUT, "org/apache/lucene/analysis/ko/dict")
    for name in os.listdir(nested):
        shutil.copy(os.path.join(nested, name), DICT_OUT)
    shutil.copy(REAL_CHARDEF, os.path.join(DICT_OUT,
                                           "CharacterDefinition.dat"))


WORDS = [e[0] for e in _entries()]
EXTRA = ["서울", "김치", "프로그램", "データ", "カタ", "xyz", "KOREA", "123",
         "９８", "한", "국", "물", " ", "  ", ".", "!", "、", "·", "ㆍ",
         "\n", "α", "д", "中文", "ひらが"]


def gen_texts(n: int, seed: int) -> list[str]:
    rng = random.Random(seed)
    out = ["", "한국사람학교", "대학교는 학교이다", "했다", "사람이 학교를 먹다",
           "한국 사람 학교", "abc 123 서울", "대학교·학교", "한국,사람!",
           "서울   김치"]
    pool = WORDS + EXTRA
    for _ in range(n):
        k = rng.randint(1, 10)
        out.append("".join(rng.choice(pool) for _ in range(k)))
    return out


def _b64(s: str) -> str:
    return base64.b64encode(s.encode("utf-16-be", "surrogatepass")).decode()


def _unb64(s: str) -> str:
    return base64.b64decode(s).decode("utf-16-be", "surrogatepass")


def py_stream(dicts, text, mode, unigrams, discard_punct):
    from lucene_spark.functions.nori import tokenize_ko

    toks = tokenize_ko(dicts, text, mode=mode,
                       output_unknown_unigrams=unigrams,
                       discard_punctuation=discard_punct)
    return [(t.start, t.end, t.pos_inc, t.pos_len, t.surface)
            for t in toks]


def main(n: int = 2000, seed: int = 42) -> int:
    from lucene_spark.functions.nori import KoDicts

    compile_all()
    build_dict()
    dicts = KoDicts(DICT_OUT)
    texts = gen_texts(n, seed)
    payload = "\n".join(_b64(t) for t in texts) + "\n"
    total_bad = 0
    for mode in ("none", "discard", "mixed"):
        for unigrams in (False, True):
            for discard_punct in (True, False):
                res = subprocess.run(
                    ["java", "-cp", f"{OUT}:{LUCORE}:{KO_RES}",
                     "NoriDriver", DICT_OUT, mode, str(unigrams).lower(),
                     str(discard_punct).lower()],
                    input=payload, capture_output=True, text=True,
                    check=True)
                jlines = res.stdout.splitlines()
                assert len(jlines) == len(texts)
                bad = 0
                for text, jl in zip(texts, jlines):
                    exp = []
                    for part in jl.split("\t"):
                        if not part:
                            continue
                        s, e, inc, plen, t64 = part.split(":")
                        exp.append((int(s), int(e), int(inc), int(plen),
                                    _unb64(t64)))
                    got = py_stream(dicts, text, mode, unigrams,
                                    discard_punct)
                    if got != exp:
                        bad += 1
                        if bad <= 3:
                            print(f"MISMATCH mode={mode} uni={unigrams} "
                                  f"dp={discard_punct} text={text!r}")
                            print("  java:", exp)
                            print("  py:  ", got)
                total_bad += bad
                print(f"mode={mode:8s} unigrams={unigrams!s:5s} "
                      f"discardPunct={discard_punct!s:5s}: "
                      f"{len(texts)} texts, {bad} mismatches")
    return 1 if total_bad else 0


if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    seed = int(sys.argv[2]) if len(sys.argv) > 2 else 42
    sys.exit(main(n, seed))

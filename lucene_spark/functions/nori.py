"""Nori Korean morphological tokenizer — Viterbi lattice replay.

Reference chain (public Apache Lucene source):
  - ``analysis/nori/src/java/org/apache/lucene/analysis/ko/Viterbi.java``
    — script-grouped unknown words (:96-148), decompound backtrace
    (:155-341), per-POS space penalty (:344-404), the 0x318D interpunct
    punctuation special case (:418-421);
  - ``ko/KoreanTokenizer.java`` — DecompoundMode (NONE/DISCARD/MIXED,
    default DISCARD), token-carried posInc/posLength (:213-246);
  - ``ko/dict/TokenInfoMorphData.java`` — buffer layout (leftId<<2|posType,
    rightId<<2|flags, wordCost shorts; morpheme decompounds);
  - ``ko/POS.java`` — tag byte = enum ordinal;
  - ``ko/KoreanAnalyzer.java:72-79`` — Tokenizer -> PartOfSpeechStop
    (DEFAULT_STOP_TAGS) -> ReadingForm -> LowerCase;
  - the base lattice is ``analysis/common/.../morph/Viterbi.java`` with
    ``enableSpacePenaltyFactor`` ON (the space-skip arm :243-252).

Unknown-word grouping needs ``Character.UnicodeScript`` — python's
stdlib has no script property, so the table is extracted AT RUNTIME from
the local JDK (a single-file-source java run, cached under /tmp keyed by
java.home — the thaibreak jimage discipline), which also guarantees the
python replay groups by the SAME Unicode version the compiled reference
uses.

Verification: tools/nori_parity.py builds a synthetic mecab-ko-dic
dictionary (compound + Inflect entries included) with the reference's
own ko DictionaryBuilder and fuzzes both engines over the same binary
files + the real in-tree ko ``CharacterDefinition.dat`` across all three
decompound modes × unknown-unigrams × punctuation arms.
"""

from __future__ import annotations

import os
import struct
import subprocess
import unicodedata

from lucene_spark.functions.fstread import FST, Arc
from lucene_spark.functions.kuromoji import (
    CharacterDefinition, ConnectionCosts, KuromojiUnavailable, _In,
    _read_file, dict_buildable,
)

MAX_UNKNOWN_WORD_LENGTH = 1024
MAX_BACKTRACE_GAP = 1024

KNOWN, UNKNOWN, USER = 0, 1, 2

KO_HEADERS = {
    "dict": "ko_dict",
    "targetmap": "ko_dict_map",
    "posdict": "ko_dict_pos",
    "conn": "ko_cc",
    "chardef": "ko_cd",
    "version": 1,
}

KO_CLASS_COUNT = 14  # ko/dict/CharacterDefinition.java CharacterClass
CLASS_NGRAM = 0

#: POS.Tag enum order (ko/POS.java:44-205) — tag byte == ordinal
POS_TAGS = (
    "EP EF EC ETN ETM IC JKS JKC JKG JKO JKB JKV JKQ JX JC MAG MAJ MM "
    "NNG NNP NNB NNBC NP NR SF SH SL SN SP SSC SSO SC SY SE VA VCN VCP "
    "VV VX XPN XR XSA XSN XSV UNKNOWN UNA NA VSV"
).split()
POS_ORD = {t: i for i, t in enumerate(POS_TAGS)}

#: POS.Type ordinals
T_MORPHEME, T_COMPOUND, T_INFLECT, T_PREANALYSIS = 0, 1, 2, 3

#: tags paying the 3000 left-space penalty (ko/Viterbi.java:349-375)
_SPACE_PENALTY_TAGS = frozenset(
    POS_ORD[t] for t in ("EP EF EC ETN ETM JKS JKC JKG JKO JKB JKV JKQ "
                         "JX JC VCP XSA XSN XSV").split())

HAS_SINGLE_POS = 1
HAS_READING = 2


class KoBinaryDict:
    """ko BinaryDictionary + TokenInfoMorphData read path."""

    def __init__(self, base: str, headers: dict = KO_HEADERS):
        t = _In(_read_file(base + "$targetMap.dat"))
        t.check_header(headers["targetmap"], headers["version"])
        n_target = t.vint()
        n_offsets = t.vint()
        self.target_map = [0] * n_target
        self.target_offsets = [0] * n_offsets
        accum = source_id = 0
        for ofs in range(n_target):
            val = t.vint()
            if val & 1:
                self.target_offsets[source_id] = ofs
                source_id += 1
            accum += val >> 1
            self.target_map[ofs] = accum
        if source_id + 1 != n_offsets:
            raise KuromojiUnavailable("targetMap format broken")
        self.target_offsets[source_id] = n_target

        d = _In(_read_file(base + "$buffer.dat"))
        d.check_header(headers["dict"], headers["version"])
        size = d.vint()
        self.buffer = d.b[d.pos:d.pos + size]

        p = _In(_read_file(base + "$posDict.dat"))
        p.check_header(headers["posdict"], headers["version"])
        self.pos_dict = [p.byte() for _ in range(p.vint())]  # tag ordinals

    def lookup_word_ids(self, source_id: int) -> list[int]:
        lo = self.target_offsets[source_id]
        hi = self.target_offsets[source_id + 1]
        return self.target_map[lo:hi]

    def _short(self, off: int) -> int:
        return struct.unpack_from(">h", self.buffer, off)[0]

    def left_id(self, morph_id: int) -> int:
        return (self._short(morph_id) & 0xFFFF) >> 2

    def right_id(self, morph_id: int) -> int:
        return (self._short(morph_id + 2) & 0xFFFF) >> 2

    def word_cost(self, morph_id: int) -> int:
        return self._short(morph_id + 4)

    def pos_type(self, morph_id: int) -> int:
        return self._short(morph_id) & 3

    def left_pos(self, morph_id: int) -> int:
        return self.pos_dict[self.left_id(morph_id)]

    def _has_single_pos(self, morph_id: int) -> bool:
        return bool(self._short(morph_id + 2) & HAS_SINGLE_POS)

    def _has_reading(self, morph_id: int) -> bool:
        return bool(self._short(morph_id + 2) & HAS_READING)

    def _read_string(self, off: int) -> str:
        n = self.buffer[off]
        off += 1
        return "".join(
            chr(struct.unpack_from(">H", self.buffer, off + (i << 1))[0])
            for i in range(n))

    def reading(self, morph_id: int) -> str | None:
        if self._has_reading(morph_id):
            return self._read_string(morph_id + 6)
        return None

    def morphemes(self, morph_id: int, surface: str):
        """(tag_ordinal, form) decompounds, or None
        (TokenInfoMorphData.getMorphemes:97-127)."""
        pt = self.pos_type(morph_id)
        if pt == T_MORPHEME:
            return None
        off = morph_id + 6
        single = self._has_single_pos(morph_id)
        if not single:
            off += 1  # skip rightPOS
        length = self.buffer[off]
        off += 1
        if length == 0:
            return None
        out = []
        surface_off = 0
        left = self.left_pos(morph_id)
        for _ in range(length):
            tag = left if single else self.buffer[off]
            if not single:
                off += 1
            if pt == T_INFLECT:
                form = self._read_string(off)
                off += len(form) * 2 + 1
            else:
                flen = self.buffer[off]
                off += 1
                form = surface[surface_off:surface_off + flen]
                surface_off += flen
            out.append((tag, form))
        return out


class KoDicts:
    def __init__(self, dict_dir: str):
        self.fst = FST(_read_file(
            os.path.join(dict_dir, "TokenInfoDictionary$fst.dat")))
        self.token = KoBinaryDict(
            os.path.join(dict_dir, "TokenInfoDictionary"))
        self.unk = KoBinaryDict(
            os.path.join(dict_dir, "UnknownDictionary"))
        self.costs = ConnectionCosts(
            os.path.join(dict_dir, "ConnectionCosts.dat"), KO_HEADERS)
        self.chardef = CharacterDefinition(
            os.path.join(dict_dir, "CharacterDefinition.dat"), KO_HEADERS,
            KO_CLASS_COUNT)


# ----------------------------------------------- JDK UnicodeScript table

_SCRIPT_CACHE = "/tmp/lucene_spark_uniscript"
_SCRIPT_JAVA = r"""
public class DumpScripts {
  public static void main(String[] a) {
    StringBuilder sb = new StringBuilder();
    int last = -2, start = 0;
    for (int cp = 0; cp <= 0x10FFFF; cp++) {
      int o = Character.UnicodeScript.of(cp).ordinal();
      if (o != last) {
        if (last != -2) sb.append(start).append(' ').append(last).append('\n');
        start = cp; last = o;
      }
    }
    sb.append(start).append(' ').append(last).append('\n');
    System.out.print("COMMON " + Character.UnicodeScript.COMMON.ordinal()
        + " INHERITED " + Character.UnicodeScript.INHERITED.ordinal() + "\n");
    System.out.print(sb);
  }
}
"""

_SCRIPTS: dict[int, tuple] = {}


def _script_table():
    """(starts array, ordinals array, common_ord, inherited_ord) from the
    local JDK's Character.UnicodeScript — run-length dumped by a
    single-file-source java run, cached under /tmp keyed by java.home."""
    pid = os.getpid()
    got = _SCRIPTS.get(pid)
    if got is not None:
        return got
    from lucene_spark.functions.thaibreak import _java_home

    tag = (_java_home().strip("/").replace("/", "_") or "nojdk")
    cache = os.path.join(_SCRIPT_CACHE, tag + ".txt")
    if not os.path.exists(cache):
        os.makedirs(_SCRIPT_CACHE, exist_ok=True)
        src = os.path.join(_SCRIPT_CACHE, f"DumpScripts-{os.getpid()}.java")
        with open(src, "w") as f:
            f.write(_SCRIPT_JAVA)
        res = subprocess.run(["java", src], capture_output=True, text=True)
        if res.returncode != 0:
            raise KuromojiUnavailable(
                f"UnicodeScript dump failed: {res.stderr[:200]}")
        tmp = cache + f".tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            f.write(res.stdout)
        os.replace(tmp, cache)
        os.remove(src)
    import numpy as np

    with open(cache) as f:
        header = f.readline().split()
        common, inherited = int(header[1]), int(header[3])
        starts, ords = [], []
        for line in f:
            s, o = line.split()
            starts.append(int(s))
            ords.append(int(o))
    got = (np.asarray(starts, dtype=np.int64),
           np.asarray(ords, dtype=np.int64), common, inherited)
    _SCRIPTS.clear()
    _SCRIPTS[pid] = got
    return got


def _script_of(cp: int) -> int:
    import numpy as np

    starts, ords, _, _ = _script_table()
    i = int(np.searchsorted(starts, cp, side="right")) - 1
    return int(ords[i])


_KO_PUNCT_CATS = frozenset((
    "Zs", "Zl", "Zp", "Cc", "Cf", "Pd", "Ps", "Pe", "Pc", "Po",
    "Sm", "Sc", "Sk", "So", "Pi", "Pf",
))


def _is_punct(ch: int) -> bool:
    if ch == 0x318D:  # Hangul Letter Araea interpunct special case
        return True
    return unicodedata.category(chr(ch)) in _KO_PUNCT_CATS


class Tok:
    __slots__ = ("surface", "start", "end", "word_id", "type", "pos_inc",
                 "pos_len", "pos_tag", "is_decompound")

    def __init__(self, surface, start, end, word_id, type_, pos_tag=None,
                 is_decompound=False):
        self.surface = surface
        self.start = start
        self.end = end
        self.word_id = word_id
        self.type = type_
        self.pos_inc = 1
        self.pos_len = 1
        self.pos_tag = pos_tag
        self.is_decompound = is_decompound

    def __repr__(self):
        return (f"KoTok({self.surface!r},{self.start},{self.end},"
                f"i{self.pos_inc},l{self.pos_len})")


class _Position:
    __slots__ = ("pos", "count", "costs", "last_right_id", "back_pos",
                 "back_word_pos", "back_index", "back_id", "back_type")

    def __init__(self, pos):
        self.pos = pos
        self.count = 0
        self.costs = []
        self.last_right_id = []
        self.back_pos = []
        self.back_word_pos = []
        self.back_index = []
        self.back_id = []
        self.back_type = []

    def add(self, cost, lrid, bpos, bwpos, bidx, bid, btype):
        n = self.count
        if n == len(self.costs):
            self.costs.append(cost)
            self.last_right_id.append(lrid)
            self.back_pos.append(bpos)
            self.back_word_pos.append(bwpos)
            self.back_index.append(bidx)
            self.back_id.append(bid)
            self.back_type.append(btype)
        else:
            self.costs[n] = cost
            self.last_right_id[n] = lrid
            self.back_pos[n] = bpos
            self.back_word_pos[n] = bwpos
            self.back_index[n] = bidx
            self.back_id[n] = bid
            self.back_type[n] = btype
        self.count = n + 1

    def reset(self):
        self.count = 0


class KoreanViterbi:
    """KoreanTokenizer lattice for one input string. ``mode``:
    "none" | "discard" (default) | "mixed"."""

    def __init__(self, dicts: KoDicts, mode: str = "discard",
                 output_unknown_unigrams: bool = False,
                 discard_punctuation: bool = True):
        self.d = dicts
        self.mode = mode
        self.output_unknown_unigrams = output_unknown_unigrams
        self.discard_punct = discard_punctuation

    def tokenize(self, text: str) -> list[Tok]:
        import numpy as np

        self.units = np.frombuffer(
            text.encode("utf-16-be", "surrogatepass"), dtype=">u2"
        ).astype(np.int64).tolist()
        self.n = len(self.units)
        self.positions: list[_Position] = []
        self.next_pos = 0
        self.pending: list[Tok] = []
        self.out: list[Tok] = []
        self.last_backtrace_pos = 0
        self.pos = 0
        self.end = False
        self._fst_reader = self.d.fst.reader()
        self._arc = Arc()
        self._get(0).add(0, 0, -1, -1, -1, -1, KNOWN)
        while True:
            while not self.pending:
                if self.end:
                    return self.out
                self._forward()
            while self.pending:
                self.out.append(self.pending.pop())

    def _get(self, pos: int) -> _Position:
        while pos >= self.next_pos:
            self.positions.append(_Position(self.next_pos))
            self.next_pos += 1
        return self.positions[pos]

    def _char(self, pos: int) -> int:
        return self.units[pos] if pos < self.n else -1

    # ------------------------------------------------------------ forward

    def _forward(self) -> None:
        d = self.d
        unknown_word_end_index = -1
        while self._char(self.pos) != -1:
            pos_data = self._get(self.pos)
            is_frontier = self.next_pos == self.pos + 1

            if pos_data.count == 0:
                self.pos += 1
                continue

            if (self.pos > self.last_backtrace_pos and pos_data.count == 1
                    and is_frontier):
                self._backtrace(pos_data, 0)
                pos_data.costs[0] = 0
                if self.pending:
                    return

            if self.pos - self.last_backtrace_pos >= MAX_BACKTRACE_GAP:
                least_idx = -1
                least_cost = 2**63
                least_pos_data = None
                for pos2 in range(self.pos, self.next_pos):
                    pd2 = self.positions[pos2]
                    for idx in range(pd2.count):
                        if pd2.costs[idx] < least_cost:
                            least_cost = pd2.costs[idx]
                            least_idx = idx
                            least_pos_data = pd2
                for pos2 in range(self.pos, self.next_pos):
                    pd2 = self.positions[pos2]
                    if pd2 is not least_pos_data:
                        pd2.reset()
                    else:
                        if least_idx != 0:
                            for a in ("costs", "last_right_id", "back_pos",
                                      "back_word_pos", "back_index",
                                      "back_id", "back_type"):
                                getattr(pd2, a)[0] = getattr(pd2, a)[least_idx]
                        pd2.count = 1
                self._backtrace(least_pos_data, 0)
                for i in range(least_pos_data.count):
                    least_pos_data.costs[i] = 0
                if self.pos != least_pos_data.pos:
                    self.pos = least_pos_data.pos
                if self.pending:
                    return
                continue

            # enableSpacePenaltyFactor: skip ONE leading space separator
            # (morph/Viterbi.java:243-252); words then attach back to the
            # pre-space position with the numSpaces penalty in add()
            if unicodedata.category(chr(self._char(self.pos))) == "Zs":
                self.pos += 1
                if self._char(self.pos) == -1:
                    self.pos = pos_data.pos

            any_matches = False
            fst = d.fst
            arc = fst.get_first_arc(self._arc)
            r = self._fst_reader
            output = 0
            pos_ahead = self.pos
            while True:
                ch = self._char(pos_ahead)
                if ch == -1:
                    break
                if fst.find_target_arc(ch, arc, arc, r) is None:
                    break
                output += arc.output
                if arc.is_final():
                    for wid in d.token.lookup_word_ids(
                            output + arc.next_final_output):
                        self._add(d.token, pos_data, self.pos,
                                  pos_ahead + 1, wid, KNOWN)
                        any_matches = True
                pos_ahead += 1

            if not unknown_word_end_index > pos_data.pos:
                self._process_unknown(any_matches, pos_data)
                unknown_word_end_index = pos_data.pos  # ko returns 0
            self.pos += 1

        self.end = True
        if self.pos > 0:
            end_pos_data = self._get(self.pos)
            least_cost = 2**63
            least_idx = -1
            for idx in range(end_pos_data.count):
                cost = (end_pos_data.costs[idx]
                        + self.d.costs.get(end_pos_data.last_right_id[idx],
                                           0))
                if cost < least_cost:
                    least_cost = cost
                    least_idx = idx
            self._backtrace(end_pos_data, least_idx)

    def _process_unknown(self, any_matches: bool, pos_data) -> None:
        d = self.d
        first = self._char(self.pos)
        if not any_matches or d.chardef.is_invoke(first):
            character_id = d.chardef.char_class(first)
            if not d.chardef.is_group(first):
                unknown_len = 1
            else:
                unknown_len = 1
                _, _, common, inherited = _script_table()
                script = _script_of(first)
                is_punct = _is_punct(first)
                is_digit = unicodedata.category(chr(first)) == "Nd"
                pos_ahead = self.pos + 1
                while unknown_len < MAX_UNKNOWN_WORD_LENGTH:
                    nxt = self._char(pos_ahead)
                    if nxt == -1:
                        break
                    cat = unicodedata.category(chr(nxt))
                    sc = _script_of(nxt)
                    same_script = (
                        sc == script or script in (common, inherited)
                        or sc in (common, inherited) or cat == "Mn")
                    if (same_script and _is_punct(nxt) == is_punct
                            and (cat == "Nd") == is_digit
                            and d.chardef.is_group(nxt)):
                        unknown_len += 1
                    else:
                        break
                    if (script in (common, inherited)
                            and sc not in (common, inherited)):
                        script = sc
                        character_id = d.chardef.char_class(nxt)
                    pos_ahead += 1
            for wid in d.unk.lookup_word_ids(character_id):
                self._add(d.unk, pos_data, self.pos,
                          self.pos + unknown_len, wid, UNKNOWN)

    def _dict_for(self, type_: int) -> KoBinaryDict:
        return self.d.token if type_ == KNOWN else self.d.unk

    def _add(self, morph: KoBinaryDict, from_pos_data, word_pos: int,
             end_pos: int, word_id: int, type_: int) -> None:
        word_cost = morph.word_cost(word_id)
        left_id = morph.left_id(word_id)
        left_pos = morph.left_pos(word_id)
        least_cost = 2**63
        least_idx = -1
        get = self.d.costs.get
        for idx in range(from_pos_data.count):
            num_spaces = word_pos - from_pos_data.pos
            penalty = (3000 if num_spaces > 0
                       and left_pos in _SPACE_PENALTY_TAGS else 0)
            cost = (from_pos_data.costs[idx]
                    + get(from_pos_data.last_right_id[idx], left_id)
                    + penalty)
            if cost < least_cost:
                least_cost = cost
                least_idx = idx
        least_cost += word_cost
        self._get(end_pos).add(least_cost, morph.right_id(word_id),
                               from_pos_data.pos, word_pos, least_idx,
                               word_id, type_)

    # ---------------------------------------------------------- backtrace

    def _backtrace(self, end_pos_data, from_idx: int) -> None:
        end_pos = end_pos_data.pos
        if end_pos == self.last_backtrace_pos:
            return
        units = self.units
        pos = end_pos
        best_idx = from_idx
        while pos > self.last_backtrace_pos:
            pos_data = self.positions[pos]
            back_pos = pos_data.back_pos[best_idx]
            back_word_pos = pos_data.back_word_pos[best_idx]
            length = pos - back_word_pos
            back_type = pos_data.back_type[best_idx]
            back_id = pos_data.back_id[best_idx]
            next_best_idx = pos_data.back_index[best_idx]
            morph = self._dict_for(back_type)
            surface = "".join(map(chr,
                                  units[back_word_pos:back_word_pos
                                        + length]))

            if self.output_unknown_unigrams and back_type == UNKNOWN:
                i = length - 1
                while i >= 0:
                    char_len = 1
                    if i > 0 and 0xDC00 <= units[back_word_pos + i] <= 0xDFFF:
                        i -= 1
                        char_len = 2
                    start = back_word_pos + i
                    self.pending.append(Tok(
                        "".join(map(chr, units[start:start + char_len])),
                        start, start + char_len, CLASS_NGRAM, UNKNOWN))
                    i -= 1
            else:
                tok = Tok(surface, back_word_pos, back_word_pos + length,
                          back_id, back_type,
                          pos_tag=morph.left_pos(back_id))
                pos_type = morph.pos_type(back_id)
                if pos_type == T_MORPHEME or self.mode == "none":
                    if not self._should_filter(tok):
                        self.pending.append(tok)
                else:
                    morphemes = morph.morphemes(back_id, surface)
                    if morphemes is None:
                        self.pending.append(tok)
                    else:
                        end_offset = back_word_pos + length
                        pos_len = 0
                        for i in range(len(morphemes) - 1, -1, -1):
                            tag, form = morphemes[i]
                            if pos_type == T_COMPOUND:
                                ct = Tok(form,
                                         end_offset - len(form),
                                         end_offset, back_id, back_type,
                                         pos_tag=tag, is_decompound=True)
                            else:
                                ct = Tok(form, tok.start, tok.end,
                                         back_id, back_type,
                                         pos_tag=tag, is_decompound=True)
                            if i == 0 and self.mode == "mixed":
                                ct.pos_inc = 0
                            pos_len += 1
                            end_offset -= len(form)
                            self.pending.append(ct)
                        if self.mode == "mixed":
                            tok.pos_len = max(1, pos_len)
                            self.pending.append(tok)

            if not self.discard_punct and back_word_pos != back_pos:
                # whitespace token between terms
                wlen = back_word_pos - back_pos
                wids = self.d.unk.lookup_word_ids(
                    self.d.chardef.char_class(0x20))
                sp = Tok("".join(map(chr,
                                     units[back_pos:back_pos + wlen])),
                         back_pos, back_pos + wlen, wids[0], UNKNOWN,
                         pos_tag=self.d.unk.left_pos(wids[0]))
                self.pending.append(sp)

            pos = back_pos
            best_idx = next_best_idx

        self.last_backtrace_pos = end_pos

    def _should_filter(self, tok: Tok) -> bool:
        return (self.discard_punct and len(tok.surface) > 0
                and _is_punct(ord(tok.surface[0])))


def tokenize_ko(dicts: KoDicts, text: str, mode: str = "discard",
                output_unknown_unigrams: bool = False,
                discard_punctuation: bool = True) -> list[Tok]:
    return KoreanViterbi(dicts, mode, output_unknown_unigrams,
                         discard_punctuation).tokenize(text)


# --------------------------------------------------- KoreanAnalyzer chain

#: KoreanPartOfSpeechStopFilter.DEFAULT_STOP_TAGS (:36-68) as ordinals
KO_STOP_TAGS = frozenset(
    POS_ORD[t] for t in ("EP EF EC ETN ETM IC JKS JKC JKG JKO JKB JKV JKQ "
                         "JX JC MAG MAJ MM SP SSC SSO SC SE XPN XSA XSN "
                         "XSV UNA NA VSV").split())

#: position-preserving drop marker (the ja chain discipline)
KO_POS_STOP_SENTINEL = "\x00ko_pos_stop\x00"


def default_ko_dict_dir() -> str:
    env = os.environ.get("LUCENE_SPARK_NORI_DICT")
    if env:
        return env
    return "/tmp/noriparity/dict"


def ensure_ko_dict_dir() -> str:
    """DRIVER-side: build the synthetic ko dictionary with the
    reference's own DictionaryBuilder when missing (the in-tree ko
    system dictionary ships without FST/buffer/costs in this checkout)."""
    d = default_ko_dict_dir()
    if os.path.exists(os.path.join(d, "TokenInfoDictionary$fst.dat")):
        return d
    import importlib.util

    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    spec = importlib.util.spec_from_file_location(
        "nori_parity", os.path.join(repo_root, "tools", "nori_parity.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.compile_all()
    mod.build_dict()
    if not os.path.exists(os.path.join(d, "TokenInfoDictionary$fst.dat")):
        raise KuromojiUnavailable(f"ko dictionary build did not produce {d!r}")
    return d


def available() -> bool:
    """Whether the ``korean`` chain can run: its dictionary is built or
    buildable (``kuromoji.dict_buildable``)."""
    return dict_buildable(default_ko_dict_dir(), "nori")


_KO_DICTS: dict[tuple[int, str], KoDicts] = {}


def _ko_dicts() -> KoDicts:
    key = (os.getpid(), default_ko_dict_dir())
    got = _KO_DICTS.get(key)
    if got is None:
        _KO_DICTS.clear()
        _KO_DICTS[key] = KoDicts(key[1])
        got = _KO_DICTS[key]
    return got


class LazyKoStop:
    """Chain stop set = just the POS-stop sentinel (KoreanAnalyzer has no
    word stop filter). Picklable."""

    def __contains__(self, w) -> bool:
        return w == KO_POS_STOP_SENTINEL

    def __iter__(self):
        yield KO_POS_STOP_SENTINEL

    def __reduce__(self):
        return (LazyKoStop, ())


def analyzer_tokens_ko(text: str) -> list[str]:
    """KoreanAnalyzer raw-tokenizer surface (pre-lowercase):
    KoreanTokenizer(DISCARD, no unigrams, discardPunctuation) ->
    PartOfSpeechStop(DEFAULT_STOP_TAGS, by leftPOS; decompound tokens
    carry their own tag) -> ReadingFormFilter (term := reading when the
    KNOWN morpheme entry has one; decompound/unknown readings are null)
    — KoreanAnalyzer.java:72-79. POS-stopped tokens emit the
    position-preserving sentinel for the chain stop set."""
    d = _ko_dicts()
    out = []
    for t in tokenize_ko(d, text, "discard", False, True):
        if t.pos_tag is not None and t.pos_tag in KO_STOP_TAGS:
            out.append(KO_POS_STOP_SENTINEL)
            continue
        term = t.surface
        if not t.is_decompound and t.type == KNOWN:
            reading = d.token.reading(t.word_id)
            if reading is not None:
                term = reading
        out.append(term)
    return out

"""Kuromoji Japanese morphological tokenizer — Viterbi lattice replay.

Reference chain (public Apache Lucene source):
  - ``analysis/common/src/java/org/apache/lucene/analysis/morph/
    Viterbi.java`` — the lattice forward pass (``forward():104-409``),
    ``add()``/``Position``/``WrappedPositionArray`` semantics;
  - ``analysis/kuromoji/src/java/org/apache/lucene/analysis/ja/
    ViterbiNBest.java`` — ``processUnknownWord`` (:122-172), SEARCH-mode
    penalties (:82-119), ``backtrace`` with the 2nd-best redirect +
    compound emission (:178-502), ``pruneAndRescore`` (:510-632),
    ``isPunctuation`` (:705-727);
  - ``ja/JapaneseTokenizer.java`` — mode wiring (:227-247), token
    emission/posInc (:295-342);
  - ``analysis/common/.../morph/BinaryDictionary.java`` (targetMap +
    buffer formats), ``ConnectionCosts.java`` (zig-zag delta matrix),
    ``CharacterDefinition.java`` (0x10000 category map + invoke/group),
    ``ja/dict/TokenInfoMorphData.java`` (buffer entry layout:
    leftId<<3|flags short, wordCost short, baseform/reading data),
    ``ja/dict/DictionaryConstants.java`` (codec headers).

Data protocol: dictionaries are read AT RUNTIME from a directory of the
reference's own binary resource format (``TokenInfoDictionary$fst.dat``
etc). The stock in-tree ja dictionary in THIS checkout ships without
``TokenInfoDictionary$buffer.dat`` (the per-entry costs), so the bundled
system dictionary cannot run here — exactly like the compiled reference,
whose ``TokenInfoDictionary.getInstance()`` fails on the same missing
resource. The engine therefore loads any COMPLETE dictionary directory
(the reference's DictionaryBuilder output — its documented custom-
dictionary entry point, ``JapaneseTokenizer.java:191-207``), and the
compiled-parity fuzz (tools/kuromoji_parity.py) builds one with the
REFERENCE's own builder and replays both engines over it: same binary
files, same algorithm, token-for-token.

Quirks preserved (each exercised by the fuzz):
  - lattice arcs append without dedup (``Position.add`` NOTE: full graph
    intersection, not a classic Viterbi);
  - the frontier commit re-bases ``costs[0] = 0``; MAX_BACKTRACE_GAP
    forced backtraces prune to the single best partial path;
  - SEARCH mode: >2-char all-Kanji runs pay (len-2)*3000, >7-char other
    runs (len-7)*1700; the backtrace REDIRECTS to a 2nd-best
    sub-segmentation within that penalty (pruneAndRescore), optionally
    emitting the compound as a posLength synonym;
  - unknown words: char-class grouping with the isPunct flag split,
    1024-char cap, 'invoke' classes extend even over dictionary hits,
    the n-gram NGRAM entry first in the unknown dictionary;
  - punctuation tokens are dropped AFTER lattice construction (they
    still shape the path costs);
  - ties in every argmin keep the FIRST index (strict <), matching the
    Java loops bit-for-bit.
"""

from __future__ import annotations

import os
import struct
import unicodedata

from lucene_spark.functions.fstread import FST, Arc

MAX_UNKNOWN_WORD_LENGTH = 1024
MAX_BACKTRACE_GAP = 1024

KNOWN, UNKNOWN, USER = 0, 1, 2

CODEC_MAGIC = 0x3FD76C17

#: ja codec headers (DictionaryConstants.java); nori passes its own
JA_HEADERS = {
    "dict": "kuromoji_dict",
    "targetmap": "kuromoji_dict_map",
    "posdict": "kuromoji_dict_pos",
    "conn": "kuromoji_cc",
    "chardef": "kuromoji_cd",
    "version": 1,
}

#: CharacterClass ordinals (ja/dict/CharacterDefinition.java:30-44)
CLASS_NGRAM, CLASS_DEFAULT, CLASS_SPACE, CLASS_SYMBOL = 0, 1, 2, 3
CLASS_NUMERIC, CLASS_ALPHA, CLASS_CYRILLIC, CLASS_GREEK = 4, 5, 6, 7
CLASS_HIRAGANA, CLASS_KATAKANA, CLASS_KANJI, CLASS_KANJINUMERIC = 8, 9, 10, 11
JA_CLASS_COUNT = 12


class KuromojiUnavailable(RuntimeError):
    """Raised when a required dictionary resource is missing — the same
    condition that makes the reference's singleton loader throw."""


class _In:
    """Forward DataInput over bytes (vInt/zInt/readString/raw)."""

    __slots__ = ("b", "pos")

    def __init__(self, b: bytes):
        self.b = b
        self.pos = 0

    def byte(self) -> int:
        v = self.b[self.pos]
        self.pos += 1
        return v

    def be_int(self) -> int:
        (v,) = struct.unpack_from(">i", self.b, self.pos)
        self.pos += 4
        return v

    def vint(self) -> int:
        out = shift = 0
        while True:
            b = self.byte()
            out |= (b & 0x7F) << shift
            if not b & 0x80:
                return out
            shift += 7

    def zint(self) -> int:
        i = self.vint()
        return (i >> 1) ^ -(i & 1)

    def string(self) -> str:
        n = self.vint()
        s = self.b[self.pos:self.pos + n].decode("utf-8")
        self.pos += n
        return s

    def check_header(self, codec: str, version: int) -> None:
        magic = self.be_int()
        if magic != CODEC_MAGIC:
            raise KuromojiUnavailable(f"bad codec magic {magic:#x}")
        name = self.string()
        if name != codec:
            raise KuromojiUnavailable(
                f"codec {name!r}, expected {codec!r}")
        v = self.be_int()
        if v != version:
            raise KuromojiUnavailable(f"codec version {v}, expected {version}")


def _read_file(path: str) -> bytes:
    if not os.path.exists(path):
        raise KuromojiUnavailable(
            f"missing dictionary resource {path!r} (this checkout ships "
            "the ja system dictionary without its $buffer.dat — build a "
            "complete directory with the reference DictionaryBuilder and "
            "pass dict_dir=)")
    with open(path, "rb") as f:
        return f.read()


class BinaryDict:
    """BinaryDictionary + TokenInfoMorphData read path: targetMap
    (delta+flag vInts), entry buffer (leftId<<3|flags, wordCost shorts,
    BE), posDict strings."""

    def __init__(self, base: str, headers: dict, with_posdict: bool = True):
        t = _In(_read_file(base + "$targetMap.dat"))
        t.check_header(headers["targetmap"], headers["version"])
        n_target = t.vint()
        n_offsets = t.vint()
        self.target_map = [0] * n_target
        self.target_offsets = [0] * n_offsets
        accum = 0
        source_id = 0
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
        if len(self.buffer) != size:
            raise KuromojiUnavailable("dictionary buffer truncated")

        self.pos_dict: list[str] = []
        if with_posdict:
            p = _In(_read_file(base + "$posDict.dat"))
            p.check_header(headers["posdict"], headers["version"])
            for _ in range(p.vint()):
                self.pos_dict.append(p.string())
                p.string()  # inflType ('' = null)
                p.string()  # inflForm

    def lookup_word_ids(self, source_id: int) -> list[int]:
        lo = self.target_offsets[source_id]
        hi = self.target_offsets[source_id + 1]
        return self.target_map[lo:hi]

    def _short(self, off: int) -> int:
        return struct.unpack_from(">h", self.buffer, off)[0]

    def left_id(self, morph_id: int) -> int:
        return (self._short(morph_id) & 0xFFFF) >> 3

    right_id = left_id  # ipadic: left == right encoding

    def word_cost(self, morph_id: int) -> int:
        return self._short(morph_id + 2)

    def pos(self, morph_id: int) -> str:
        return self.pos_dict[self.left_id(morph_id)]

    def base_form(self, morph_id: int, surface: str) -> str | None:
        """TokenInfoMorphData.getBaseForm: None when the entry has no
        baseform data (the surface IS the base form)."""
        if not self._short(morph_id) & 1:  # HAS_BASEFORM
            return None
        off = morph_id + 4
        data = self.buffer[off]
        off += 1
        prefix = data >> 4
        suffix = data & 0xF
        chars = surface[:prefix] + "".join(
            chr(struct.unpack_from(">H", self.buffer, off + (i << 1))[0])
            for i in range(suffix))
        return chars


class ConnectionCosts:
    def __init__(self, path: str, headers: dict):
        i = _In(_read_file(path))
        i.check_header(headers["conn"], headers["version"])
        self.forward_size = i.vint()
        backward_size = i.vint()
        import numpy as np

        costs = np.empty(self.forward_size * backward_size, dtype=np.int16)
        accum = 0
        for j in range(backward_size * self.forward_size):
            accum += i.zint()
            costs[j] = accum  # int16 wrap == (short) cast
        self.costs = costs

    def get(self, forward_id: int, backward_id: int) -> int:
        return int(self.costs[backward_id * self.forward_size + forward_id])


class CharacterDefinition:
    def __init__(self, path: str, headers: dict, class_count: int):
        i = _In(_read_file(path))
        i.check_header(headers["chardef"], headers["version"])
        self.category_map = i.b[i.pos:i.pos + 0x10000]
        i.pos += 0x10000
        self.invoke = [False] * class_count
        self.group = [False] * class_count
        for c in range(class_count):
            b = i.byte()
            self.invoke[c] = bool(b & 1)
            self.group[c] = bool(b & 2)

    def char_class(self, ch: int) -> int:
        return self.category_map[ch] if ch < 0x10000 else CLASS_DEFAULT

    def is_kanji(self, ch: int) -> bool:
        c = self.char_class(ch)
        return c == CLASS_KANJI or c == CLASS_KANJINUMERIC

    def is_invoke(self, ch: int) -> bool:
        return self.invoke[self.char_class(ch)]

    def is_group(self, ch: int) -> bool:
        return self.group[self.char_class(ch)]


class JaDicts:
    """One loaded dictionary set (system + unknown + costs + chardef)."""

    def __init__(self, dict_dir: str, headers: dict = JA_HEADERS,
                 class_count: int = JA_CLASS_COUNT):
        self.fst = FST(_read_file(
            os.path.join(dict_dir, "TokenInfoDictionary$fst.dat")))
        self.token = BinaryDict(
            os.path.join(dict_dir, "TokenInfoDictionary"), headers)
        self.unk = BinaryDict(
            os.path.join(dict_dir, "UnknownDictionary"), headers)
        self.costs = ConnectionCosts(
            os.path.join(dict_dir, "ConnectionCosts.dat"), headers)
        self.chardef = CharacterDefinition(
            os.path.join(dict_dir, "CharacterDefinition.dat"), headers,
            class_count)


class UserDictionary:
    """ja/dict/UserDictionary.java — custom phrase segmentation from CSV
    (``surface,segmentation,readings,pos``): entries sorted by the RAW
    first field, phrase ids = sorted rank (the FST ord), per-morph word
    ids from CUSTOM_DICTIONARY_WORD_ID_OFFSET; fixed
    leftId=rightId=5, wordCost=-100000 (``UserMorphData.java:26-28``).
    The FST is an implementation detail — a char trie reproduces the
    same prefix-walk finals in the same order."""

    WORD_COST = -100000
    LEFT_ID = 5
    RIGHT_ID = 5
    CUSTOM_OFFSET = 100_000_000

    def __init__(self, text: str):
        import re

        entries = []
        for line in text.splitlines():
            line = re.sub(r"^#.*$", "", line)
            if not line.strip():
                continue
            entries.append(_csv_parse(line))
        if not entries:
            raise ValueError("empty user dictionary")
        entries.sort(key=lambda v: v[0])
        self.segmentations: list[list[int]] = []
        self.data: list[tuple[str, str]] = []  # (reading, pos) per morph
        self.trie: dict = {}
        word_id = self.CUSTOM_OFFSET
        for ord_, values in enumerate(entries):
            surface = re.sub(r"\s", "", values[0])
            concat = re.sub(r"\s", "", values[1])
            segmentation = re.split(" +", values[1])
            readings = re.split(" +", values[2])
            pos = values[3]
            if len(segmentation) != len(readings):
                raise RuntimeError(
                    f"Illegal user dictionary entry {values[0]} - the "
                    f"number of segmentations ({len(segmentation)}) does "
                    f"not the match number of readings ({len(readings)})")
            if surface != concat:
                raise RuntimeError(
                    f"Illegal user dictionary entry {values[0]} - the "
                    f"concatenated segmentation ({concat}) does not match "
                    f"the surface form ({surface})")
            wid_len = [word_id] + [len(s) for s in segmentation]
            for r in readings:
                self.data.append((r, pos))
                word_id += 1
            node = self.trie
            for ch in values[0]:  # RAW token, whitespace included
                node = node.setdefault(ord(ch), {})
            node[-1] = ord_  # final marker -> phrase id
            self.segmentations.append(wid_len)

    # ----- the Viterbi's per-position walk (base Viterbi.java:256-290)
    def walk(self, char_at, pos: int):
        """Yield (pos_ahead, phrase_id) for every final along the prefix
        walk starting at ``pos`` (char_at(p) -> unit or -1)."""
        node = self.trie
        p = pos
        while True:
            ch = char_at(p)
            if ch == -1:
                return
            node = node.get(ch)
            if node is None:
                return
            if -1 in node:
                yield p, node[-1]
            p += 1

    def lookup_segmentation(self, phrase_id: int) -> list[int]:
        return self.segmentations[phrase_id]

    # duck-typed MorphData for the lattice add()
    def word_cost(self, word_id: int) -> int:
        return self.WORD_COST

    def left_id(self, word_id: int) -> int:
        return self.LEFT_ID

    def right_id(self, word_id: int) -> int:
        return self.RIGHT_ID


def _csv_parse(line: str) -> list[str]:
    """analysis/util/CSVUtil.parse essentials: comma split honoring
    double-quoted fields with "" escapes."""
    out = []
    cur = []
    in_q = False
    i = 0
    while i < len(line):
        c = line[i]
        if in_q:
            if c == '"':
                if i + 1 < len(line) and line[i + 1] == '"':
                    cur.append('"')
                    i += 1
                else:
                    in_q = False
            else:
                cur.append(c)
        elif c == '"':
            in_q = True
        elif c == ",":
            out.append("".join(cur))
            cur = []
        else:
            cur.append(c)
        i += 1
    out.append("".join(cur))
    return out


_JA_PUNCT_CATS = frozenset((
    "Zs", "Zl", "Zp", "Cc", "Cf", "Pd", "Ps", "Pe", "Pc", "Po",
    "Sm", "Sc", "Sk", "So", "Pi", "Pf",
))


def _is_punct(ch: int) -> bool:
    """ViterbiNBest.isPunctuation (Character.getType switch)."""
    return unicodedata.category(chr(ch)) in _JA_PUNCT_CATS


SEARCH_MODE_KANJI_LENGTH = 2
SEARCH_MODE_OTHER_LENGTH = 7
SEARCH_MODE_KANJI_PENALTY = 3000
SEARCH_MODE_OTHER_PENALTY = 1700


class _Position:
    __slots__ = ("pos", "count", "costs", "last_right_id", "back_pos",
                 "back_word_pos", "back_index", "back_id", "back_type",
                 "forward_count", "forward_pos", "forward_index",
                 "forward_id", "forward_type")

    def __init__(self, pos: int):
        self.pos = pos
        self.count = 0
        self.costs: list[int] = []
        self.last_right_id: list[int] = []
        self.back_pos: list[int] = []
        self.back_word_pos: list[int] = []
        self.back_index: list[int] = []
        self.back_id: list[int] = []
        self.back_type: list[int] = []
        self.forward_count = 0
        self.forward_pos: list[int] = []
        self.forward_index: list[int] = []
        self.forward_id: list[int] = []
        self.forward_type: list[int] = []

    def add(self, cost, last_right_id, back_pos, back_word_pos, back_index,
            back_id, back_type):
        n = self.count
        if n == len(self.costs):
            self.costs.append(cost)
            self.last_right_id.append(last_right_id)
            self.back_pos.append(back_pos)
            self.back_word_pos.append(back_word_pos)
            self.back_index.append(back_index)
            self.back_id.append(back_id)
            self.back_type.append(back_type)
        else:
            self.costs[n] = cost
            self.last_right_id[n] = last_right_id
            self.back_pos[n] = back_pos
            self.back_word_pos[n] = back_word_pos
            self.back_index[n] = back_index
            self.back_id[n] = back_id
            self.back_type[n] = back_type
        self.count = n + 1

    def add_forward(self, forward_pos, forward_index, word_id, fwd_type):
        n = self.forward_count
        if n == len(self.forward_pos):
            self.forward_pos.append(forward_pos)
            self.forward_index.append(forward_index)
            self.forward_id.append(word_id)
            self.forward_type.append(fwd_type)
        else:
            self.forward_pos[n] = forward_pos
            self.forward_index[n] = forward_index
            self.forward_id[n] = word_id
            self.forward_type[n] = fwd_type
        self.forward_count = n + 1

    def reset(self):
        self.count = 0


class Tok:
    """Emitted token: surface + offsets (UTF-16 units) + morph linkage."""

    __slots__ = ("surface", "start", "end", "word_id", "type", "pos_len")

    def __init__(self, surface, start, end, word_id, type_, pos_len=1):
        self.surface = surface
        self.start = start
        self.end = end
        self.word_id = word_id
        self.type = type_
        self.pos_len = pos_len

    def __repr__(self):
        return (f"Tok({self.surface!r},{self.start},{self.end},"
                f"t{self.type},pl{self.pos_len})")


class JapaneseViterbi:
    """The JapaneseTokenizer lattice for one input string (UTF-16
    units). ``mode``: "normal" | "search" | "extended";
    ``discard_compound=False`` re-enables the SEARCH-mode compound
    synonym emission (outputCompounds)."""

    def __init__(self, dicts: JaDicts, mode: str = "search",
                 discard_punctuation: bool = True,
                 discard_compound: bool = True,
                 user_dict: UserDictionary | None = None):
        self.d = dicts
        self.search_mode = mode in ("search", "extended")
        self.extended_mode = mode == "extended"
        self.output_compounds = self.search_mode and not discard_compound
        self.discard_punct = discard_punctuation
        self.user_dict = user_dict
        self.output_longest_user_only = False  # ja keeps all user matches

    # --------------------------------------------------------------- main

    def tokenize(self, text: str) -> list[Tok]:
        import numpy as np

        units = np.frombuffer(
            text.encode("utf-16-be", "surrogatepass"), dtype=">u2"
        ).astype(np.int64).tolist()
        self.units = units
        self.n = len(units)
        self.positions: list[_Position] = []
        self.next_pos = 0
        self.pending: list[Tok] = []
        self.out: list[Tok] = []
        self.last_backtrace_pos = 0
        self.pos = 0
        self.end = False
        self._fst_reader = self.d.fst.reader()
        self._arc = Arc()
        # BOS
        self._get(0).add(0, 0, -1, -1, -1, -1, KNOWN)

        while True:
            while not self.pending:
                if self.end:
                    return self.out
                self._forward()
            # serve pending in reverse (incrementToken order)
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
        user_word_max_pos_ahead = -1
        while self._char(self.pos) != -1:
            pos = self.pos
            pos_data = self._get(pos)
            is_frontier = self.next_pos == pos + 1

            if pos_data.count == 0:
                self.pos += 1
                continue

            if (pos > self.last_backtrace_pos and pos_data.count == 1
                    and is_frontier):
                self._backtrace(pos_data, 0)
                pos_data.costs[0] = 0
                if self.pending:
                    return

            if pos - self.last_backtrace_pos >= MAX_BACKTRACE_GAP:
                least_idx = -1
                least_cost = 2**63
                least_pos_data = None
                for pos2 in range(pos, self.next_pos):
                    pd2 = self.positions[pos2]
                    for idx in range(pd2.count):
                        if pd2.costs[idx] < least_cost:
                            least_cost = pd2.costs[idx]
                            least_idx = idx
                            least_pos_data = pd2
                for pos2 in range(pos, self.next_pos):
                    pd2 = self.positions[pos2]
                    if pd2 is not least_pos_data:
                        pd2.reset()
                    else:
                        if least_idx != 0:
                            pd2.costs[0] = pd2.costs[least_idx]
                            pd2.last_right_id[0] = pd2.last_right_id[least_idx]
                            pd2.back_pos[0] = pd2.back_pos[least_idx]
                            pd2.back_word_pos[0] = pd2.back_word_pos[least_idx]
                            pd2.back_index[0] = pd2.back_index[least_idx]
                            pd2.back_id[0] = pd2.back_id[least_idx]
                            pd2.back_type[0] = pd2.back_type[least_idx]
                        pd2.count = 1
                self._backtrace(least_pos_data, 0)
                for i in range(least_pos_data.count):
                    least_pos_data.costs[i] = 0
                if pos != least_pos_data.pos:
                    self.pos = least_pos_data.pos
                if self.pending:
                    return
                continue

            any_matches = False
            # user dictionary first (base Viterbi.java:256-313): ANY user
            # match suppresses the known-dict matching at this position
            if self.user_dict is not None:
                max_pos_ahead = 0
                phrase_max = -1
                for pos_ahead, phrase_id in self.user_dict.walk(
                        self._char, pos):
                    any_matches = True
                    max_pos_ahead = pos_ahead
                    phrase_max = phrase_id
                    if not self.output_longest_user_only:
                        self._add(self.user_dict, pos_data, pos,
                                  pos_ahead + 1, phrase_id, USER, False)
                if any_matches and max_pos_ahead > user_word_max_pos_ahead:
                    if self.output_longest_user_only:
                        self._add(self.user_dict, pos_data, pos,
                                  max_pos_ahead + 1, phrase_max, USER,
                                  False)
                    user_word_max_pos_ahead = max(user_word_max_pos_ahead,
                                                  max_pos_ahead)

            if not any_matches:
                fst = d.fst
                arc = fst.get_first_arc(self._arc)
                r = self._fst_reader
                output = 0
                pos_ahead = pos
                while True:
                    ch = self._char(pos_ahead)
                    if ch == -1:
                        break
                    if fst.find_target_arc(ch, arc, arc, r) is None:
                        break
                    output += arc.output
                    if arc.is_final():
                        word_ids = d.token.lookup_word_ids(
                            output + arc.next_final_output)
                        for wid in word_ids:
                            self._add(d.token, pos_data, pos,
                                      pos_ahead + 1, wid, KNOWN, False)
                            any_matches = True
                    pos_ahead += 1

            if not self._should_skip_unknown(unknown_word_end_index,
                                             pos_data):
                unknown_len = self._process_unknown(any_matches, pos_data)
                unknown_word_end_index = pos_data.pos + unknown_len
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

    def _should_skip_unknown(self, unknown_word_end_index, pos_data) -> bool:
        return (not self.search_mode
                and unknown_word_end_index > pos_data.pos)

    def _process_unknown(self, any_matches: bool, pos_data) -> int:
        d = self.d
        first = self._char(self.pos)
        if not any_matches or d.chardef.is_invoke(first):
            character_id = d.chardef.char_class(first)
            is_punct = _is_punct(first)
            if not d.chardef.is_group(first):
                unknown_len = 1
            else:
                unknown_len = 1
                pos_ahead = self.pos + 1
                while unknown_len < MAX_UNKNOWN_WORD_LENGTH:
                    ch = self._char(pos_ahead)
                    if ch == -1:
                        break
                    if (character_id == d.chardef.char_class(ch)
                            and _is_punct(ch) == is_punct):
                        unknown_len += 1
                    else:
                        break
                    pos_ahead += 1
            for wid in d.unk.lookup_word_ids(character_id):
                self._add(d.unk, pos_data, self.pos,
                          pos_data.pos + unknown_len, wid, UNKNOWN, False)
            return unknown_len
        return 0

    def _compute_penalty(self, pos: int, length: int) -> int:
        if length > SEARCH_MODE_KANJI_LENGTH:
            all_kanji = True
            for p in range(pos, pos + length):
                if not self.d.chardef.is_kanji(self.units[p]):
                    all_kanji = False
                    break
            if all_kanji:
                return ((length - SEARCH_MODE_KANJI_LENGTH)
                        * SEARCH_MODE_KANJI_PENALTY)
            if length > SEARCH_MODE_OTHER_LENGTH:
                return ((length - SEARCH_MODE_OTHER_LENGTH)
                        * SEARCH_MODE_OTHER_PENALTY)
        return 0

    def _dict_for(self, type_: int):
        if type_ == USER:
            return self.user_dict
        return self.d.token if type_ == KNOWN else self.d.unk

    def _add(self, morph: BinaryDict, from_pos_data, word_pos: int,
             end_pos: int, word_id: int, type_: int,
             add_penalty: bool) -> None:
        word_cost = morph.word_cost(word_id)
        left_id = morph.left_id(word_id)
        least_cost = 2**63
        least_idx = -1
        get = self.d.costs.get
        for idx in range(from_pos_data.count):
            cost = (from_pos_data.costs[idx]
                    + get(from_pos_data.last_right_id[idx], left_id))
            if cost < least_cost:
                least_cost = cost
                least_idx = idx
        least_cost += word_cost
        if add_penalty and type_ != USER:
            least_cost += self._compute_penalty(
                from_pos_data.pos, end_pos - from_pos_data.pos)
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
        alt_token: Tok | None = None
        alt_start = -1
        last_left_word_id = -1
        back_count = 0

        while pos > self.last_backtrace_pos:
            pos_data = self.positions[pos]
            back_pos = pos_data.back_pos[best_idx]
            length = pos - back_pos
            back_type = pos_data.back_type[best_idx]
            back_id = pos_data.back_id[best_idx]
            next_best_idx = pos_data.back_index[best_idx]

            if (self.search_mode and alt_token is None
                    and back_type != USER):
                penalty = self._compute_penalty(back_pos, pos - back_pos)
                if penalty > 0:
                    max_cost = pos_data.costs[best_idx] + penalty
                    if last_left_word_id != -1:
                        max_cost += self.d.costs.get(
                            self._dict_for(back_type).right_id(back_id),
                            last_left_word_id)
                    self._prune_and_rescore(
                        back_pos, pos, pos_data.back_index[best_idx])
                    least_cost = 2**63
                    least_idx = -1
                    for idx in range(pos_data.count):
                        cost = pos_data.costs[idx]
                        if last_left_word_id != -1:
                            cost += self.d.costs.get(
                                self._dict_for(pos_data.back_type[idx])
                                .right_id(pos_data.back_id[idx]),
                                last_left_word_id)
                        if cost < least_cost:
                            least_cost = cost
                            least_idx = idx
                    if (least_idx != -1 and least_cost <= max_cost
                            and pos_data.back_pos[least_idx] != back_pos):
                        alt_token = Tok(
                            "".join(map(chr, units[back_pos:back_pos
                                                   + length])),
                            back_pos, back_pos + length, back_id,
                            back_type)
                        alt_start = back_pos
                        best_idx = least_idx
                        next_best_idx = pos_data.back_index[best_idx]
                        back_pos = pos_data.back_pos[best_idx]
                        length = pos - back_pos
                        back_type = pos_data.back_type[best_idx]
                        back_id = pos_data.back_id[best_idx]
                        back_count = 0

            if alt_token is not None and alt_start >= back_pos:
                if self.output_compounds:
                    if back_count > 0:
                        back_count += 1
                        alt_token.pos_len = back_count
                        self.pending.append(alt_token)
                alt_token = None

            morph = self._dict_for(back_type)

            if back_type == USER:
                # expand the recorded phraseID into its segmentation
                # (ViterbiNBest.java:400-433); tokens appended then the
                # sublist REVERSED (incrementToken serves from the end)
                wid_len = self.user_dict.lookup_segmentation(back_id)
                word_id = wid_len[0]
                current = 0
                added = []
                for j in range(1, len(wid_len)):
                    ln = wid_len[j]
                    start = current + back_pos
                    added.append(Tok(
                        "".join(map(chr, units[start:start + ln])),
                        start, start + ln, word_id + j - 1, USER))
                    current += ln
                self.pending.extend(reversed(added))
                back_count += len(wid_len) - 1
            elif self.extended_mode and back_type == UNKNOWN:
                unigram_count = 0
                i = length - 1
                while i >= 0:
                    char_len = 1
                    if i > 0 and 0xDC00 <= units[back_pos + i] <= 0xDFFF:
                        i -= 1
                        char_len = 2
                    if (not self.discard_punct
                            or not _is_punct(units[back_pos + i])):
                        start = back_pos + i
                        self.pending.append(Tok(
                            "".join(map(chr,
                                        units[start:start + char_len])),
                            start, start + char_len, CLASS_NGRAM, UNKNOWN))
                        unigram_count += 1
                    i -= 1
                back_count += unigram_count
            elif (not self.discard_punct or length == 0
                    or not _is_punct(units[back_pos])):
                self.pending.append(Tok(
                    "".join(map(chr, units[back_pos:back_pos + length])),
                    back_pos, back_pos + length, back_id, back_type))
                back_count += 1

            last_left_word_id = morph.left_id(back_id)
            pos = back_pos
            best_idx = next_best_idx

        self.last_backtrace_pos = end_pos

    def _prune_and_rescore(self, start_pos: int, end_pos: int,
                           best_start_idx: int) -> None:
        # pass 1: backwards, build forward arcs, prune non-congruent
        for pos in range(end_pos, start_pos, -1):
            pos_data = self.positions[pos]
            for arc_idx in range(pos_data.count):
                back_pos = pos_data.back_pos[arc_idx]
                if back_pos >= start_pos:
                    self.positions[back_pos].add_forward(
                        pos, arc_idx, pos_data.back_id[arc_idx],
                        pos_data.back_type[arc_idx])
            if pos != start_pos:
                pos_data.count = 0
        # pass 2: forward, re-score
        for pos in range(start_pos, end_pos):
            pos_data = self.positions[pos]
            if pos_data.count == 0:
                pos_data.forward_count = 0
                continue
            if pos == start_pos:
                if start_pos == 0:
                    right_id = 0
                else:
                    right_id = self._dict_for(
                        pos_data.back_type[best_start_idx]).right_id(
                        pos_data.back_id[best_start_idx])
                path_cost = pos_data.costs[best_start_idx]
                for f in range(pos_data.forward_count):
                    fwd_type = pos_data.forward_type[f]
                    dict2 = self._dict_for(fwd_type)
                    word_id = pos_data.forward_id[f]
                    to_pos = pos_data.forward_pos[f]
                    new_cost = (path_cost + dict2.word_cost(word_id)
                                + self.d.costs.get(right_id,
                                                   dict2.left_id(word_id))
                                + self._compute_penalty(pos, to_pos - pos))
                    self._get(to_pos).add(
                        new_cost, dict2.right_id(word_id), pos, -1,
                        best_start_idx, word_id, fwd_type)
            else:
                for f in range(pos_data.forward_count):
                    fwd_type = pos_data.forward_type[f]
                    self._add(self._dict_for(fwd_type), pos_data, pos,
                              pos_data.forward_pos[f],
                              pos_data.forward_id[f], fwd_type, True)
            pos_data.forward_count = 0


def tokenize(dicts: JaDicts, text: str, mode: str = "search",
             discard_punctuation: bool = True,
             discard_compound: bool = True,
             user_dict: UserDictionary | None = None) -> list[Tok]:
    """JapaneseTokenizer surface: the emitted token stream in
    incrementToken order."""
    return JapaneseViterbi(dicts, mode, discard_punctuation,
                           discard_compound, user_dict).tokenize(text)


# ------------------------------------------------- JapaneseAnalyzer chain

#: position-preserving drop marker for POS-stopped tokens (the
#: jflex SKIP_SENTINEL discipline: the chain stop set absorbs it)
POS_STOP_SENTINEL = "\x00ja_pos_stop\x00"

_JA_RES_REL = ("lucene/analysis/kuromoji/src/resources/org/apache/lucene/"
               "analysis/ja")


def _ja_resource(name: str) -> str:
    from lucene_spark.functions.stempel import ref_dir

    p = os.path.join(ref_dir(), _JA_RES_REL, name)
    if not os.path.exists(p):
        raise KuromojiUnavailable(f"missing ja resource {p!r}")
    return p


def _load_word_list(path: str) -> frozenset[str]:
    out = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith("#"):
                continue
            w = line.strip()
            if w:
                out.append(w)
    return frozenset(out)


_JA_SETS: dict[int, tuple[frozenset, frozenset]] = {}


def ja_stop_sets() -> tuple[frozenset, frozenset]:
    """(stopwords, stoptags) from the reference's own in-tree resource
    files (JapaneseAnalyzer DefaultSetHolder), loaded at runtime."""
    pid = os.getpid()
    got = _JA_SETS.get(pid)
    if got is None:
        _JA_SETS.clear()
        _JA_SETS[pid] = (_load_word_list(_ja_resource("stopwords.txt")),
                         _load_word_list(_ja_resource("stoptags.txt")))
        got = _JA_SETS[pid]
    return got


def katakana_stem(term: str) -> str:
    """JapaneseKatakanaStemFilter.stem (:70-94): terms of >= 4 chars that
    are ALL full-width katakana (block U+30A0-U+30FF) lose a trailing
    prolonged sound mark U+30FC."""
    if len(term) < 4:
        return term
    for ch in term:
        if not 0x30A0 <= ord(ch) <= 0x30FF:
            return term
    if term.endswith("ー"):
        return term[:-1]
    return term


def default_dict_dir() -> str:
    """Dictionary directory for the `japanese` chain:
    ``$LUCENE_SPARK_KUROMOJI_DICT`` if set, else the harness-built
    synthetic directory (tools/kuromoji_parity.py output). The stock
    in-tree system dictionary is incomplete in this checkout (no
    $buffer.dat), so there is no bundled default."""
    env = os.environ.get("LUCENE_SPARK_KUROMOJI_DICT")
    if env:
        return env
    return "/tmp/kuromojiparity/dict"


def ensure_ja_dict_dir() -> str:
    """DRIVER-side: make sure a complete dictionary directory exists,
    building the synthetic one with the reference's own DictionaryBuilder
    if needed (requires javac + the reference tree). Executors only READ
    the files afterwards."""
    d = default_dict_dir()
    if os.path.exists(os.path.join(d, "TokenInfoDictionary$fst.dat")):
        return d
    import importlib.util

    repo_root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    spec = importlib.util.spec_from_file_location(
        "kuromoji_parity", os.path.join(repo_root, "tools",
                                        "kuromoji_parity.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.compile_all()
    mod.build_dict()
    if not os.path.exists(os.path.join(d, "TokenInfoDictionary$fst.dat")):
        raise KuromojiUnavailable(
            f"dictionary build did not produce {d!r}")
    return d


def dict_buildable(dict_dir: str, module: str) -> bool:
    """Whether ``dict_dir`` already holds a built dictionary
    (``TokenInfoDictionary$fst.dat``), or the reference tree the parity
    tool builds one from exists: lucene-core's sources and
    ``lucene/analysis/<module>``'s, under ``$LUCENE_SPARK_REF_DIR``."""
    from lucene_spark.functions.stempel import ref_dir

    if os.path.exists(os.path.join(dict_dir, "TokenInfoDictionary$fst.dat")):
        return True
    root = ref_dir()
    return all(os.path.isdir(os.path.join(root, "lucene", rel))
               for rel in ("core/src/java/org", f"analysis/{module}/src/java"))


def available() -> bool:
    """Whether the ``japanese`` chain can run: its dictionary is built or
    buildable (``dict_buildable``) and the JapaneseAnalyzer stop resources
    ``ja_stop_sets`` reads exist."""
    try:
        for name in ("stopwords.txt", "stoptags.txt"):
            _ja_resource(name)
    except KuromojiUnavailable:
        return False
    return dict_buildable(default_dict_dir(), "kuromoji")


_JA_DICTS: dict[tuple[int, str], JaDicts] = {}


def _ja_dicts() -> JaDicts:
    key = (os.getpid(), default_dict_dir())
    got = _JA_DICTS.get(key)
    if got is None:
        _JA_DICTS.clear()
        _JA_DICTS[key] = JaDicts(key[1])
        got = _JA_DICTS[key]
    return got


class LazyJaStop:
    """Chain stop-set view: the ja stop words (runtime-loaded) plus the
    POS-stop sentinel. Picklable; loads per process."""

    def __contains__(self, w) -> bool:
        return w == POS_STOP_SENTINEL or w in ja_stop_sets()[0]

    def __iter__(self):
        yield POS_STOP_SENTINEL
        yield from ja_stop_sets()[0]

    def __reduce__(self):
        return (LazyJaStop, ())


def analyzer_tokens(text: str) -> list[str]:
    """JapaneseAnalyzer raw-tokenizer surface (pre-lowercase): tokenizer
    (SEARCH mode, discardPunctuation, discardCompoundToken — the
    analyzer's own ctor args, JapaneseAnalyzer.java:110) + BaseFormFilter
    (term := baseform when present) + PartOfSpeechStopFilter realized as
    the position-preserving sentinel (the chain stop set absorbs it).
    Chain order note: the reference stops BEFORE lowercasing; the ja
    stop words and stoptags contain no cased latin, so vocab-level
    stop-after-lower is equivalent (asserted in tests)."""
    d = _ja_dicts()
    _stop_words, stop_tags = ja_stop_sets()
    out = []
    for t in tokenize(d, text, "search", True, True):
        morph = d.token if t.type == KNOWN else d.unk
        term = t.surface
        bf = morph.base_form(t.word_id, t.surface)
        if bf:
            term = bf
        if morph.pos(t.word_id) in stop_tags:
            out.append(POS_STOP_SENTINEL)
        else:
            out.append(term)
    return out

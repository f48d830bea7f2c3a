"""Stempel (Egothor) Polish stemmer — StempelFilter / PolishAnalyzer parity.

Reference chain (public Apache Lucene source):
  ``analysis/stempel/src/java/org/apache/lucene/analysis/pl/PolishAnalyzer.java:134-141``
  — StandardTokenizer -> LowerCaseFilter -> StopFilter(stopwords.txt) ->
  StempelFilter(StempelStemmer(stemmer_20000.tbl), minLength=3);
  ``stempel/StempelStemmer.java:75-115`` — table load (method string with
  'M' -> MultiTrie2) + stem = Trie.getLastOnPath + Diff.apply;
  ``org/egothor/stemmer/{Trie,MultiTrie,MultiTrie2,Row,Cell,Diff}.java`` —
  the read path transcribed below (the build/optimize half of Egothor is
  not needed: the shipped table is already compiled).

Data protocol (the Thai/BeiderMorse discipline): NO data files are copied
into this repo. The binary patch-command table ``stemmer_20000.tbl`` and
``stopwords.txt`` ship in the reference tree's resources and are read AT
RUNTIME (``$LUCENE_SPARK_REF_DIR``, default ``/root/reference``); a host
without them raises ``StempelUnavailable`` with the reference's own
"resource not found" flavor instead of silently degrading.
``available()`` tells whether both files are there, and
``bm25_polish_chain`` (``__spark_entry__.queries()``/``oracle_sql()``)
is registered only where it holds; ``build_index`` with
``analyzer="polish"`` calls ``require()`` on the driver before any job.

Quirks preserved verbatim (each exercised by the compiled-class fuzz in
``tools/stempel_parity.py`` — 0 mismatches over 60k+ mixed Polish/ASCII
words):
  - Java ``readUTF`` is MODIFIED UTF-8 (C0 80 NULs, CESU-8 surrogate
    pairs) — a plain UTF-8 decode would mis-read patch params;
  - ``StrEnum.next()``/``charAt`` bounds: Java throws on out-of-range
    indexes and ``MultiTrie2.getLastOnPath`` CATCHES
    IndexOutOfBoundsException mid-walk, returning the partial command —
    python negative indexing would silently wrap, so every charAt is
    bounds-checked;
  - ``lastch = r.charAt(r.length() - 2)`` on a 1-char command throws and
    is caught the same way;
  - ``Diff.apply`` aborts mid-application on StringIndexOutOfBounds,
    leaving the PARTIALLY patched buffer as the result;
  - a stem that patches down to "" -> null -> token passes UNCHANGED
    (``StempelFilter.java:73-77``), as does any word shorter than 3 chars.
"""

from __future__ import annotations

import os
import struct

DONE = -1
EOM = "*"

_REF_DEFAULT = "/root/reference"
_TBL_REL = ("lucene/analysis/stempel/src/resources/org/apache/lucene/"
            "analysis/pl/stemmer_20000.tbl")
_STOP_REL = ("lucene/analysis/stempel/src/resources/org/apache/lucene/"
             "analysis/pl/stopwords.txt")


class StempelUnavailable(RuntimeError):
    """Raised when the in-tree stemmer table is not reachable (the
    reference itself throws from PolishAnalyzer's DefaultsHolder when the
    classpath resource is missing)."""


def ref_dir() -> str:
    """The Lucene source tree runtime resources and the dictionary
    builders read: ``$LUCENE_SPARK_REF_DIR``, default ``_REF_DEFAULT``."""
    return os.environ.get("LUCENE_SPARK_REF_DIR", _REF_DEFAULT)


def _ref_path(rel: str) -> str:
    root = ref_dir()
    p = os.path.join(root, rel)
    if not os.path.exists(p):
        raise StempelUnavailable(
            f"Unable to load stempel resource {rel!r} under {root!r} "
            "(set LUCENE_SPARK_REF_DIR to a Lucene source tree)")
    return p


def require() -> None:
    """Raise ``StempelUnavailable`` unless both runtime resources exist."""
    for rel in (_TBL_REL, _STOP_REL):
        _ref_path(rel)


def available() -> bool:
    """Whether the stemmer table and the stop file both exist under
    ``$LUCENE_SPARK_REF_DIR`` (the path rule ``_ref_path`` uses)."""
    try:
        require()
    except StempelUnavailable:
        return False
    return True


class _DataInput:
    """java.io.DataInputStream read path over bytes."""

    __slots__ = ("b", "pos")

    def __init__(self, b: bytes):
        self.b = b
        self.pos = 0

    def read_boolean(self) -> bool:
        v = self.b[self.pos]
        self.pos += 1
        return v != 0

    def read_int(self) -> int:
        (v,) = struct.unpack_from(">i", self.b, self.pos)
        self.pos += 4
        return v

    def read_char(self) -> str:
        (v,) = struct.unpack_from(">H", self.b, self.pos)
        self.pos += 2
        return chr(v)

    def read_utf(self) -> str:
        """Java modified UTF-8: 2-byte length, C0 80 NULs, CESU-8
        surrogates decoded pairwise (lone surrogates kept, like Java)."""
        (n,) = struct.unpack_from(">H", self.b, self.pos)
        self.pos += 2
        raw = self.b[self.pos:self.pos + n]
        self.pos += n
        units: list[int] = []
        i = 0
        while i < n:
            c = raw[i]
            if c < 0x80:
                units.append(c)
                i += 1
            elif (c & 0xE0) == 0xC0:
                units.append(((c & 0x1F) << 6) | (raw[i + 1] & 0x3F))
                i += 2
            else:
                units.append(((c & 0x0F) << 12) | ((raw[i + 1] & 0x3F) << 6)
                             | (raw[i + 2] & 0x3F))
                i += 3
        return "".join(map(chr, units))  # BMP units; pairs stay paired


class _Row:
    __slots__ = ("cells",)

    def __init__(self, di: _DataInput):
        self.cells: dict[str, tuple[int, int]] = {}
        for _ in range(di.read_int()):
            ch = di.read_char()
            cmd = di.read_int()
            di.read_int()   # cnt (unused on the read path)
            ref = di.read_int()
            di.read_int()   # skip (unused on the read path)
            self.cells[ch] = (cmd, ref)

    def get_cmd(self, ch: str) -> int:
        c = self.cells.get(ch)
        return -1 if c is None else c[0]

    def get_ref(self, ch: str) -> int:
        c = self.cells.get(ch)
        return -1 if c is None else c[1]


class _Trie:
    """org/egothor/stemmer/Trie.java read path (ctor + getLastOnPath)."""

    __slots__ = ("forward", "root", "cmds", "rows")

    def __init__(self, di: _DataInput):
        self.forward = di.read_boolean()
        self.root = di.read_int()
        self.cmds = [di.read_utf() for _ in range(di.read_int())]
        self.rows = [_Row(di) for _ in range(di.read_int())]

    def get_last_on_path(self, key: str):
        now = self.rows[self.root]
        last = None
        n = len(key)
        # StrEnum: forward reads 0..n-1, backward n-1..0; charAt throws on
        # out-of-range — replicated by the explicit index checks (callers
        # catch IndexError exactly like the Java IndexOutOfBoundsException)
        pos = 0 if self.forward else n - 1
        by = 1 if self.forward else -1
        for _ in range(n - 1):
            if pos < 0 or pos >= n:
                raise IndexError(pos)
            ch = key[pos]
            pos += by
            w = now.get_cmd(ch)
            if w >= 0:
                last = self.cmds[w]
            w = now.get_ref(ch)
            if w < 0:
                return last
            now = self.rows[w]
        if pos < 0 or pos >= n:
            raise IndexError(pos)
        w = now.get_cmd(key[pos])
        return self.cmds[w] if w >= 0 else last


class MultiTrie2:
    """org/egothor/stemmer/MultiTrie(2).java read path."""

    __slots__ = ("forward", "by", "tries")

    def __init__(self, di: _DataInput):
        self.forward = di.read_boolean()
        self.by = di.read_int()
        self.tries = [_Trie(di) for _ in range(di.read_int())]

    def _skip(self, s: str, count: int) -> str:
        if self.forward:
            if count > len(s):
                raise IndexError(count)
            return s[count:]
        if count > len(s):
            raise IndexError(count)
        return s[: len(s) - count]

    @staticmethod
    def _cannot_follow(after: str, goes: str) -> bool:
        return after in "-D" and after == goes

    @staticmethod
    def _length_pp(cmd: str) -> int:
        ln = 0
        i = 0
        while i < len(cmd):
            c = cmd[i]
            i += 1
            if c in "-D":
                ln += ord(cmd[i]) - ord("a") + 1
            elif c == "R":
                ln += 1
            # 'I': nothing
            i += 1
        return ln

    def get_last_on_path(self, key: str) -> str:
        result = []
        try:
            lastkey = key
            prev = None
            lastch = " "
            for t in self.tries:
                r = t.get_last_on_path(lastkey)
                if r is None or (len(r) == 1 and r[0] == EOM):
                    return "".join(result)
                if self._cannot_follow(lastch, r[0]):
                    return "".join(result)
                if len(r) < 2:
                    raise IndexError(len(r) - 2)  # charAt(r.length()-2)
                lastch = r[-2]
                if r[0] == "-":
                    if prev is not None:
                        key = self._skip(key, self._length_pp(prev))
                    key = self._skip(key, self._length_pp(r))
                prev = r
                result.append(r)
                if len(key) != 0:
                    lastkey = key
        except IndexError:
            pass
        return "".join(result)


def diff_apply(dest: list[str], diff: str) -> None:
    """org/egothor/stemmer/Diff.java apply: in-place patch on a char list;
    aborts mid-application on the Java StringIndexOutOfBounds conditions,
    leaving the partial result (reference catch-and-ignore)."""
    if not diff:
        return
    pos = len(dest) - 1
    if pos < 0:
        return
    try:
        for i in range(len(diff) // 2):
            cmd = diff[2 * i]
            param = diff[2 * i + 1]
            par_num = ord(param) - ord("a") + 1
            if cmd == "-":
                pos = pos - par_num + 1
            elif cmd == "R":
                if pos < 0 or pos >= len(dest):
                    raise IndexError(pos)
                dest[pos] = param
            elif cmd == "D":
                o = pos
                pos -= par_num - 1
                if pos < 0:
                    raise IndexError(pos)
                del dest[pos:o + 1]
            elif cmd == "I":
                pos += 1
                if pos < 0 or pos > len(dest):
                    raise IndexError(pos)
                dest.insert(pos, param)
            pos -= 1
    except IndexError:
        pass


_TABLE: dict[int, MultiTrie2] = {}


def _stemmer() -> MultiTrie2:
    """Per-process parsed table (forked Spark workers re-read from the
    shared file; ~2.2 MB parse, once per executor process)."""
    pid = os.getpid()
    got = _TABLE.get(pid)
    if got is None:
        with open(_ref_path(_TBL_REL), "rb") as f:
            di = _DataInput(f.read())
        method = di.read_utf().upper()
        if "M" not in method:
            raise StempelUnavailable(
                f"single-Trie stempel tables unsupported (method "
                f"{method!r}); the shipped Polish table is MultiTrie2")
        _TABLE.clear()
        _TABLE[pid] = MultiTrie2(di)
        got = _TABLE[pid]
    return got


def stempel_stem(word: str) -> str | None:
    """StempelStemmer.stem: patch command from the trie applied to the
    word. MultiTrie2.getLastOnPath never returns null (an aborted walk
    yields the EMPTY command, whose Diff.apply is a no-op -> the word
    itself comes back, reference behavior); None only when the patch
    empties the buffer."""
    cmd = _stemmer().get_last_on_path(word)
    if cmd is None:
        return None
    buf = list(word)
    diff_apply(buf, cmd)
    return "".join(buf) if buf else None


def polish_chain_transform(token: str) -> str:
    """StempelFilter semantics on one (already lowercased, non-stop)
    token: words shorter than DEFAULT_MIN_LENGTH=3 pass unchanged; a null
    stem passes unchanged (``StempelFilter.java:73-77``)."""
    if len(token) < 3:
        return token
    st = stempel_stem(token)
    return st if st else token


def _load_stop() -> frozenset[str]:
    """PolishAnalyzer stopwords.txt via WordlistLoader.getWordSet '#'
    semantics (``PolishAnalyzer.java:76-80``)."""
    out = []
    with open(_ref_path(_STOP_REL), encoding="utf-8") as f:
        for line in f:
            if line.startswith("#"):
                continue
            w = line.strip()
            if w:
                out.append(w)
    return frozenset(out)


class LazyPolishStop:
    """Membership view over the runtime-loaded Polish stop set — keeps
    module import (and chain registration) free of any reference-tree
    file access; the file loads on first membership test, per process.
    Picklable, so the index build can ship it through task closures."""

    def __contains__(self, w) -> bool:
        return w in pl_stop()

    def __iter__(self):
        return iter(pl_stop())

    def __reduce__(self):
        return (LazyPolishStop, ())


_PL_STOP: dict[int, frozenset] = {}


def pl_stop() -> frozenset[str]:
    pid = os.getpid()
    got = _PL_STOP.get(pid)
    if got is None:
        _PL_STOP.clear()
        _PL_STOP[pid] = _load_stop()
        got = _PL_STOP[pid]
    return got

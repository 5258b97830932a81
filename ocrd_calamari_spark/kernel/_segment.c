/*
 * Compiled segmenter: the state machine of segment.py's _segment_fused in
 * one pass over each page of an Arrow batch.  Plain C with no Python.h;
 * kernel/native.py compiles it (`cc -O2 -shared -fPIC`)
 * and calls it through ctypes.  _segment_fused stays the specification.
 *
 * One state machine (run_machine) behind one entry point,
 * ocs_segment_batch: every page of an Arrow batch → one row of block
 * columns per kept block plus its normalized text in one codepoint
 * buffer, with no Python object per block (kernel/columnar.py).
 * test_segment_equiv.py and test_batch_columns.py pin it to
 * _segment_fused plus the text half of normalize_block, page for page.
 *
 * Input is codepoints (str.encode("utf-32-le"/"-be" by host order,
 * "surrogatepass")), so every offset here is a codepoint index that
 * Python slices directly, and a lone surrogate is one codepoint like any
 * other.
 *
 * Exactness hazards, each pinned in test_segment_equiv.py:
 *   - _TOKEN_RE's attribute group is possessive and bounded at 4,096
 *     units; a unit is one codepoint or one whole quoted string, so the
 *     bound counts codepoints, never bytes.  "/" is an attribute codepoint
 *     only when ">" does not follow it: "/>" closes a self-closing tag.
 *   - The rawtext close is segment.py's r"</\s*[sS][cC][rR][iI][pP][tT]\s*>"
 *     on str: \s is the 29 codepoints of is_ws() below, and each letter
 *     matches only its ASCII case pair, as HTMLParser's end-tag name
 *     [a-zA-Z] does ("</scrİpt>" does not close a script).
 *   - Tag names are ASCII ([a-zA-Z][a-zA-Z0-9.:_-]*) and compare after
 *     ASCII lowering.  A misnested close compares the names of open tags,
 *     unknown ones included, so the stack keeps each name's span.
 *   - Entities are unescaped per chunk in Python, never per block: this
 *     file reports which chunks hold "&" and never merges chunks.
 *
 * Bounds: the caller sizes one int32 buffer from the page's count of "<"
 * (`cap`): every token starts with "<", so tags, blocks and stack depth
 * are at most `cap` and chunks at most `cap + 1`.  Every write is checked
 * against those capacities; a page that would overflow one is left to
 * Python (P_PYTHON), and a bad argument fails the whole call.
 */
#include <stdint.h>
#include <string.h>

#define ATTR_BOUND 4096

enum { C_OTHER = 0, C_VOID = 1, C_DROP = 2, C_ANCHOR = 3, C_BLOCK = 4 };
enum { OCS_OK = 0, OCS_EARGS = -1, OCS_ECAP = -2 };

/* Tag-class table (segment.py's _TAG_CLASS; native.py refuses a library
 * whose table differs).  Entries 0 and 1 are the rawtext elements. */
#define T_SCRIPT 0
#define T_STYLE 1
static const struct { const char *name; int cls; } TAGS[] = {
    {"script", C_DROP}, {"style", C_DROP},
    {"br", C_VOID}, {"hr", C_VOID}, {"img", C_VOID}, {"input", C_VOID},
    {"meta", C_VOID}, {"link", C_VOID}, {"area", C_VOID}, {"base", C_VOID},
    {"col", C_VOID}, {"source", C_VOID}, {"track", C_VOID}, {"wbr", C_VOID},
    {"nav", C_DROP}, {"header", C_DROP}, {"footer", C_DROP},
    {"aside", C_DROP}, {"noscript", C_DROP}, {"template", C_DROP},
    {"form", C_DROP}, {"iframe", C_DROP}, {"svg", C_DROP},
    {"button", C_DROP}, {"select", C_DROP}, {"option", C_DROP},
    {"object", C_DROP}, {"embed", C_DROP}, {"head", C_DROP},
    {"a", C_ANCHOR},
    {"p", C_BLOCK}, {"div", C_BLOCK}, {"article", C_BLOCK},
    {"section", C_BLOCK}, {"main", C_BLOCK}, {"li", C_BLOCK},
    {"h1", C_BLOCK}, {"h2", C_BLOCK}, {"h3", C_BLOCK}, {"h4", C_BLOCK},
    {"h5", C_BLOCK}, {"h6", C_BLOCK}, {"blockquote", C_BLOCK},
    {"pre", C_BLOCK}, {"td", C_BLOCK}, {"th", C_BLOCK}, {"dd", C_BLOCK},
    {"dt", C_BLOCK}, {"figcaption", C_BLOCK}, {"summary", C_BLOCK},
};
#define N_TAGS ((int)(sizeof TAGS / sizeof TAGS[0]))
#define MAX_TAG_LEN 10

/* Record layouts of the int32 buffer, in this order:
 *   out chunks  OUT_CHK per chunk:  start, end, flags
 *   stack       STK per open tag:   name start, name length, class
 *   block stack 1 per open block:   block index
 *   blocks      BLK per block:      tag, depth, n_tags, visible, link,
 *                                   flags, chunk count, output cursor
 *   chunks      CHK per chunk:      start, end, flags, block index
 * Chunk flags: F_ANCHOR (inside <a>), F_AMP (holds "&"); a block's flags
 * are the union of its chunks' but F_ANCHOR.  Visible and link chars
 * count only the chunks without "&" (Python counts a block with "&" after
 * unescaping).  The out chunks are the kept blocks' chunks, grouped by
 * block in document order. */
enum { OUT_CHK = 3, STK = 3, BLK = 8, CHK = 4 };
enum { F_ANCHOR = 1, F_AMP = 2 };
#define PER_TAG (OUT_CHK + STK + 1 + BLK + CHK)

int ocs_ints_per_tag(void) { return PER_TAG; }
int ocs_tag_count(void) { return N_TAGS; }
const char *ocs_tag_name(int i) { return i >= 0 && i < N_TAGS ? TAGS[i].name : 0; }
int ocs_tag_class(int i) { return i >= 0 && i < N_TAGS ? TAGS[i].cls : -1; }

/* extract.py's _CTRL_RE, [\x00-\x08\x0e-\x1f], counted over the first n
 * codepoints of a page (ocs_segment_batch passes at most the 4,096 that
 * _looks_binary reads). */
#define CTRL_HEAD 4096
static int32_t ctrl_count(const uint32_t *p, int32_t n) {
    int32_t k = 0;
    for (int32_t i = 0; i < n; i++)
        k += p[i] <= 0x08 || (p[i] >= 0x0E && p[i] <= 0x1F);
    return k;
}

static int is_alpha(uint32_t c) {
    return (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z');
}

static int is_namech(uint32_t c) {
    return is_alpha(c) || (c >= '0' && c <= '9') || c == '.' || c == ':'
           || c == '_' || c == '-';
}

static uint32_t lower(uint32_t c) {
    return (c >= 'A' && c <= 'Z') ? c + 32 : c;
}

/* Python's \s on str: the 29 codepoints that re matches. */
static int is_ws(uint32_t c) {
    if (c <= 0x20)
        return (c >= 0x09 && c <= 0x0D) || (c >= 0x1C);
    if (c < 0x85)
        return 0;
    return c == 0x85 || c == 0xA0 || c == 0x1680
           || (c >= 0x2000 && c <= 0x200A) || c == 0x2028 || c == 0x2029
           || c == 0x202F || c == 0x205F || c == 0x3000;
}

/* The chars of the replace chain, "\n\t\r\f\v" → " " (0x09-0x0D). */
static int is_chain_ws(uint32_t c) {
    return c >= 0x09 && c <= 0x0D;
}

/* One letter of "script" / "style": its ASCII case pair only. */
static int fold_eq(uint32_t c, char want) {
    return c == (uint32_t)want || c == (uint32_t)want - 32;
}

/* TAGS indices by first letter and length, -1 terminated; ocs_init()
 * fills it once, before the first ocs_segment_batch call. */
#define BUCKET_SLOTS 8
static int8_t BUCKET[26][MAX_TAG_LEN + 1][BUCKET_SLOTS];
static int initialized;

int ocs_init(void) {
    memset(BUCKET, -1, sizeof BUCKET);
    for (int i = 0; i < N_TAGS; i++) {
        const char *name = TAGS[i].name;
        size_t len = strlen(name);
        if (len > MAX_TAG_LEN || name[0] < 'a' || name[0] > 'z')
            return OCS_EARGS;
        int8_t *b = BUCKET[name[0] - 'a'][len];
        int k = 0;
        while (b[k] >= 0)
            k++;
        if (k + 1 >= BUCKET_SLOTS)
            return OCS_EARGS;
        b[k] = (int8_t)i;
    }
    initialized = 1;
    return OCS_OK;
}

/* Table index of a tag name (ASCII, starting with a letter), or -1 for an
 * unknown tag. */
static int classify(const uint32_t *p, int32_t s, int32_t len) {
    if (len > MAX_TAG_LEN)
        return -1;
    for (const int8_t *b = BUCKET[lower(p[s]) - 'a'][len]; *b >= 0; b++) {
        const char *name = TAGS[*b].name;
        int32_t k = 1;
        while (k < len && lower(p[s + k]) == (uint32_t)name[k])
            k++;
        if (k == len)
            return *b;
    }
    return -1;
}

static int name_eq(const uint32_t *p, int32_t a, int32_t b, int32_t len) {
    for (int32_t k = 0; k < len; k++)
        if (lower(p[a + k]) != lower(p[b + k]))
            return 0;
    return 1;
}

/* Memo of the last forward search for a needle: no occurrence starts in
 * [from, at), so a query at any q in [from, at] answers `at` (n: none).
 * Queries only move forward, so each needle costs O(n) per page. */
typedef struct { int32_t from, at; } memo_t;

static int32_t next_ch(const uint32_t *p, int32_t n, uint32_t ch, int32_t q,
                       memo_t *m) {
    if (m->from <= q && q <= m->at)
        return m->at;
    int32_t i = q;
    while (i < n && p[i] != ch)
        i++;
    m->from = q;
    m->at = i;
    return i;
}

static int32_t next_seq(const uint32_t *p, int32_t n, uint32_t a, uint32_t b,
                        uint32_t c, int32_t q, memo_t *m) {
    if (m->from <= q && q <= m->at)
        return m->at;
    int32_t i = q;
    while (i + 2 < n && !(p[i] == a && p[i + 1] == b && p[i + 2] == c))
        i++;
    if (i + 2 >= n)
        i = n;
    m->from = q;
    m->at = i;
    return i;
}

typedef struct { memo_t gt, dq, sq, comment, cdata; } memos_t;

typedef struct {
    int32_t start, end;
    int tag; /* 0: comment / cdata / declaration / pi, no event */
    int closing, selfclose;
    int32_t ns, nl; /* tag name span */
} tok_t;

/* _TOKEN_RE.search(page, from): its alternatives in order at each "<". */
static int find_token(const uint32_t *p, int32_t n, int32_t from, memos_t *M,
                      tok_t *t) {
    for (int32_t i = from; i + 1 < n; i++) {
        if (p[i] != '<')
            continue;
        uint32_t c1 = p[i + 1];
        int32_t e;
        if (c1 == '!') {
            if (i + 3 < n && p[i + 2] == '-' && p[i + 3] == '-') {
                e = next_seq(p, n, '-', '-', '>', i + 4, &M->comment);
                if (e < n) {
                    t->start = i; t->end = e + 3; t->tag = 0;
                    return 1;
                }
            }
            if (i + 8 < n && p[i + 2] == '[' && p[i + 3] == 'C'
                && p[i + 4] == 'D' && p[i + 5] == 'A' && p[i + 6] == 'T'
                && p[i + 7] == 'A' && p[i + 8] == '[') {
                e = next_seq(p, n, ']', ']', '>', i + 9, &M->cdata);
                if (e < n) {
                    t->start = i; t->end = e + 3; t->tag = 0;
                    return 1;
                }
            }
        }
        if (c1 == '!' || c1 == '?') {
            e = next_ch(p, n, '>', i + 2, &M->gt);
            if (e < n) {
                t->start = i; t->end = e + 1; t->tag = 0;
                return 1;
            }
            continue;
        }
        int32_t j = i + 1;
        int closing = 0;
        if (p[j] == '/') {
            closing = 1;
            j++;
        }
        if (j >= n || !is_alpha(p[j]))
            continue;
        int32_t ns = j++;
        while (j < n && is_namech(p[j]))
            j++;
        int32_t ne = j, k = j;
        /* (?:"[^"]*"|'[^']*'|[^>"'/]|/(?!>)){0,4096}+ : the greedy name
         * never backtracks into a match, because every unit boundary of
         * this group starts a unit, never a ">" or a "/>". */
        for (int units = 0; units < ATTR_BOUND && k < n; units++) {
            uint32_t c = p[k];
            if (c == '"' || c == '\'') {
                int32_t q = next_ch(p, n, c, k + 1, c == '"' ? &M->dq : &M->sq);
                if (q >= n)
                    break;
                k = q + 1;
            } else if (c == '>' || (c == '/' && k + 1 < n && p[k + 1] == '>')) {
                break;
            } else {
                k++;
            }
        }
        if (k < n && p[k] == '>') {
            t->end = k + 1;
            t->selfclose = 0;
        } else if (k + 1 < n && p[k] == '/' && p[k + 1] == '>') {
            t->end = k + 2;
            t->selfclose = 1;
        } else {
            continue;
        }
        t->start = i;
        t->tag = 1;
        t->closing = closing;
        t->ns = ns;
        t->nl = ne - ns;
        return 1;
    }
    return 0;
}

/* _RAWTEXT_CLOSE[word].search(page, from) → end of the match, or -1. */
static int32_t rawtext_close(const uint32_t *p, int32_t n, int32_t from,
                             const char *word) {
    for (int32_t i = from; i + 1 < n; i++) {
        if (p[i] != '<' || p[i + 1] != '/')
            continue;
        int32_t k = i + 2;
        while (k < n && is_ws(p[k]))
            k++;
        const char *w = word;
        while (*w && k < n && fold_eq(p[k], *w)) {
            k++;
            w++;
        }
        if (*w)
            continue;
        while (k < n && is_ws(p[k]))
            k++;
        if (k < n && p[k] == '>')
            return k + 1;
    }
    return -1;
}

/* The state machine's tables for one page, carved from a caller's int32
 * buffer of PER_TAG * (cap + 1) ints (cap: the page's count of "<"). */
typedef struct {
    int32_t *out, *stk, *bstk, *blk, *chk;
    int64_t c1, nb, nch;
} machine_t;

static void carve(machine_t *m, int32_t *buf, int32_t cap) {
    m->c1 = (int64_t)cap + 1;
    m->out = buf;
    m->stk = m->out + OUT_CHK * m->c1;
    m->bstk = m->stk + STK * m->c1;
    m->blk = m->bstk + m->c1;
    m->chk = m->blk + BLK * m->c1;
    m->nb = m->nch = 0;
}

/* The token loop over one page: fills m's blocks and chunks (BLK and CHK
 * records) in document order.  OCS_ECAP when a table would overflow. */
static int run_machine(const uint32_t *p, int32_t n, machine_t *m) {
    int64_t c1 = m->c1;
    int32_t *stk = m->stk, *bstk = m->bstk, *blk = m->blk, *chk = m->chk;
    int64_t sp = 0, bsp = 0, nb = 0, nch = 0;
    int64_t drop = 0, anchor = 0;
    memos_t M = {{1, 0}, {1, 0}, {1, 0}, {1, 0}, {1, 0}};
    tok_t t = {0};
    int32_t pos = 0;

    while (pos < n) {
        int found = find_token(p, n, pos, &M, &t);
        int32_t end = found ? t.start : n;
        if (end > pos && drop == 0 && bsp > 0) {
            if (nch >= c1)
                return OCS_ECAP;
            int32_t b = bstk[bsp - 1], *bk = blk + BLK * (int64_t)b;
            int32_t flags = anchor > 0 ? F_ANCHOR : 0, blank = 0;
            uint32_t amp = 0;
            for (int32_t q = pos; q < end; q++) {
                uint32_t c = p[q];
                amp |= c == '&';
                blank += (int32_t)(is_chain_ws(c) | (c == ' '));
            }
            flags |= amp ? F_AMP : 0;
            int32_t vis = end - pos - blank;
            int32_t *ck = chk + CHK * nch++;
            ck[0] = pos;
            ck[1] = end;
            ck[2] = flags;
            ck[3] = b;
            bk[6]++;
            bk[5] |= flags & ~F_ANCHOR;
            if (!(flags & F_AMP)) {
                bk[3] += vis;
                if (anchor > 0)
                    bk[4] += vis;
            }
        }
        if (!found)
            break;
        pos = t.end;
        if (!t.tag)
            continue;
        int idx = classify(p, t.ns, t.nl);
        int cls = idx < 0 ? C_OTHER : TAGS[idx].cls;
        if (t.closing) {
            if (cls == C_VOID)
                continue;
            int64_t f = sp - 1; /* topmost open tag of this name */
            while (f >= 0 && !(stk[STK * f + 1] == t.nl
                               && name_eq(p, stk[STK * f], t.ns, t.nl)))
                f--;
            if (f < 0)
                continue; /* tolerates misnesting */
            while (sp > f) {
                int top = stk[STK * --sp + 2];
                if (drop > 0)
                    drop--;
                else if (top == C_ANCHOR && anchor > 0)
                    anchor--;
                else if (top == C_BLOCK && bsp > 0)
                    bsp--;
            }
            continue;
        }
        if (cls == C_VOID) {
            if (drop == 0 && bsp > 0)
                blk[BLK * (int64_t)bstk[bsp - 1] + 2]++;
            continue;
        }
        if (sp >= c1)
            return OCS_ECAP;
        int dropped = cls == C_DROP || drop > 0;
        if (dropped) {
            drop++;
        } else {
            if (cls == C_ANCHOR)
                anchor++;
            if (bsp > 0)
                blk[BLK * (int64_t)bstk[bsp - 1] + 2]++;
            if (cls == C_BLOCK) {
                if (nb >= c1 || bsp >= c1)
                    return OCS_ECAP;
                int32_t *bk = blk + BLK * nb;
                memset(bk, 0, BLK * sizeof *bk);
                bk[0] = idx;
                bk[1] = (int32_t)sp;
                bstk[bsp++] = (int32_t)nb++;
            }
        }
        stk[STK * sp] = t.ns;
        stk[STK * sp + 1] = t.nl;
        stk[STK * sp + 2] = cls;
        sp++;
        if (t.selfclose) { /* an immediate end tag: this tag is on top */
            sp--;
            if (dropped)
                drop--;
            else if (cls == C_ANCHOR && anchor > 0)
                anchor--;
            else if (cls == C_BLOCK && bsp > 0)
                bsp--;
        } else if (idx == T_SCRIPT || idx == T_STYLE) {
            int32_t e = rawtext_close(p, n, pos, TAGS[idx].name);
            if (e < 0)
                break; /* unterminated raw text: the rest is dropped */
            sp--;
            drop--;
            pos = e;
        }
    }
    m->nb = nb;
    m->nch = nch;
    return OCS_OK;
}

/* A block is kept when it has visible text or a "&" chunk (Python decides
 * those after unescaping). */
static int kept(const int32_t *bk) {
    return bk[3] != 0 || (bk[5] & F_AMP);
}

/* Group the kept blocks' chunks by block, in document order, into `gc`
 * (OUT_CHK ints per chunk).  Afterwards a kept block's chunks are
 * gc[OUT_CHK * (bk[7] - bk[6]) ...] up to gc[OUT_CHK * bk[7]]. */
static void group_chunks(machine_t *m, int32_t *gc) {
    int64_t nc = 0;
    for (int64_t b = 0; b < m->nb; b++) {
        int32_t *bk = m->blk + BLK * b;
        if (kept(bk)) {
            bk[7] = (int32_t)nc;
            nc += bk[6];
        }
    }
    for (int64_t c = 0; c < m->nch; c++) {
        int32_t *ck = m->chk + CHK * c, *bk = m->blk + BLK * (int64_t)ck[3];
        if (!kept(bk))
            continue;
        int32_t *o = gc + OUT_CHK * (int64_t)bk[7]++;
        o[0] = ck[0];
        o[1] = ck[1];
        o[2] = ck[2];
    }
}

/* Segment every page of an Arrow batch and write one row of block columns
 * per kept block, in page and document order.
 *
 * Input: the pages' codepoints back to back in `p`, page i at
 * [page_off[i], page_off[i + 1]), and each page's count of "<" in caps[i]
 * (-1: leave the page to Python).  A page whose head has more than the
 * fraction ctrl_limit of control chars is P_BINARY and never segmented
 * (extract._looks_binary's test).  A page
 * that `scratch` cannot hold, or that overflows a table, is P_PYTHON.
 *
 * Output, per kept block r (ROW ints in rows[ROW * r]): page, tag index,
 * depth, n_tags, visible chars, link chars, ".!?" count, flags.  Its
 * normalized text -- the chain whitespace mapped to " ", edge spaces
 * stripped, space runs collapsed: normalize_block's text half -- is
 * text[toff[r] : toff[r + 1] - 1]; a "\n" follows every block's text, so
 * the whole buffer is the "\n"-join of the texts plus a final "\n".  F_SURR
 * flags a text that holds a lone surrogate.  A block with "&" (F_AMP) gets
 * an empty text and zero counts; its chunks go to `amp`, AMP_REC ints each
 * (row, start, end, chunk flags; start and end are page offsets), for
 * Python to unescape.  counts[0..2]: rows, text codepoints, amp records.
 * An output overflow returns OCS_ECAP (the caller sized them so that none
 * can happen). */
enum { R_PAGE, R_TAG, R_DEPTH, R_NTAGS, R_VIS, R_LINK, R_PUNCT, R_FLAGS, ROW };
enum { AMP_REC = 4 };
enum { F_SURR = 8 };
enum { P_OK = 0, P_BINARY = 1, P_PYTHON = 2 };

int ocs_batch_row_ints(void) { return ROW; }

int ocs_segment_batch(const uint32_t *p, const int64_t *page_off,
                      const int32_t *caps, int32_t n_pages, double ctrl_limit,
                      int32_t *scratch, int64_t scratch_len, int32_t *rows,
                      int64_t *toff, int64_t rows_cap, uint32_t *text,
                      int64_t text_cap, int32_t *amp, int64_t amp_cap,
                      int8_t *status, int64_t *counts) {
    if (!initialized || n_pages < 0 || rows_cap < 0)
        return OCS_EARGS;
    int64_t nr = 0, w = 0, na = 0;
    toff[0] = 0;
    for (int32_t i = 0; i < n_pages; i++) {
        const uint32_t *pg = p + page_off[i];
        int64_t len = page_off[i + 1] - page_off[i];
        int32_t cap = caps[i];
        status[i] = P_PYTHON;
        if (len < 0)
            return OCS_EARGS;
        if (len > INT32_MAX)
            continue;
        int32_t n = (int32_t)len;
        if (n > 0) {
            int32_t head = n < CTRL_HEAD ? n : CTRL_HEAD;
            if ((double)ctrl_count(pg, head) / head > ctrl_limit) {
                status[i] = P_BINARY;
                continue;
            }
        }
        if (cap < 0 || scratch_len < (int64_t)PER_TAG * ((int64_t)cap + 1))
            continue;
        machine_t m;
        carve(&m, scratch, cap);
        if (run_machine(pg, n, &m) != OCS_OK)
            continue;
        int32_t *gc = m.out;
        group_chunks(&m, gc);
        for (int64_t b = 0; b < m.nb; b++) {
            int32_t *bk = m.blk + BLK * b;
            if (!kept(bk))
                continue;
            if (nr >= rows_cap)
                return OCS_ECAP;
            int32_t *row = rows + ROW * nr;
            int32_t *c = gc + OUT_CHK * (int64_t)(bk[7] - bk[6]);
            int32_t *ce = gc + OUT_CHK * (int64_t)bk[7];
            int32_t punct = 0, flags = bk[5] & F_AMP;
            if (flags) {
                if (na + bk[6] > amp_cap)
                    return OCS_ECAP;
                for (; c < ce; c += OUT_CHK) {
                    int32_t *a = amp + AMP_REC * na++;
                    a[0] = (int32_t)nr;
                    a[1] = c[0];
                    a[2] = c[1];
                    a[3] = c[2];
                }
            } else {
                int64_t need = 1;
                for (int32_t *q = c; q < ce; q += OUT_CHK)
                    need += q[1] - q[0];
                if (w + need > text_cap)
                    return OCS_ECAP;
                int pending = 0, started = 0;
                uint32_t surr = 0;
                for (; c < ce; c += OUT_CHK) {
                    for (int32_t q = c[0]; q < c[1]; q++) {
                        uint32_t ch = pg[q];
                        if (ch == ' ' || is_chain_ws(ch)) {
                            pending = started;
                            continue;
                        }
                        if (pending) {
                            text[w++] = ' ';
                            pending = 0;
                        }
                        text[w++] = ch;
                        started = 1;
                        punct += ch == '.' || ch == '!' || ch == '?';
                        surr |= ch - 0xD800 <= 0xDFFF - 0xD800;
                    }
                }
                if (surr)
                    flags |= F_SURR;
            }
            if (w >= text_cap)
                return OCS_ECAP;
            text[w++] = '\n';
            row[R_PAGE] = i;
            row[R_TAG] = bk[0];
            row[R_DEPTH] = bk[1];
            row[R_NTAGS] = bk[2];
            row[R_VIS] = flags & F_AMP ? 0 : bk[3];
            row[R_LINK] = flags & F_AMP ? 0 : bk[4];
            row[R_PUNCT] = punct;
            row[R_FLAGS] = flags;
            toff[++nr] = w;
        }
        status[i] = P_OK;
    }
    counts[0] = nr;
    counts[1] = w;
    counts[2] = na;
    return OCS_OK;
}

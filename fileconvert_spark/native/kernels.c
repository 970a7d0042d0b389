/* Optional compiled kernels for fileconvert_spark.
 *
 * Compiled on first use with the host C compiler (see native/__init__.py);
 * every kernel has a NumPy fallback with IDENTICAL output, property-tested
 * in tests/test_native.py — the engine works without a toolchain, it is
 * just slower. Only sequential inner loops that NumPy cannot vectorize
 * live here (greedy FSST parse: each token's start depends on the previous
 * token's length; PNG defilter: each pixel depends on the previous pixel),
 * plus the decode gather-join, which writes each output string once where
 * Arrow take + binary_join copy it twice, and the hot loops of string
 * codec selection: one count of both separators, one split-and-dedup
 * pass per segment dictionary, and FSST training's counting walk.
 *
 * Plain C99 + stdint (plus GCC/Clang's __builtin_ctzll), no libc beyond
 * string.h and malloc/qsort, little-endian host (the same assumption
 * functions/fsst.py makes and guards at import).
 */

#include <stdint.h>
#include <stdlib.h>
#include <string.h>

#define FSST_ESCAPE 255u
#define HASH_MULT  0x9E3779B97F4A7C15ULL
#define HASH_MULT2 0xC2B2AE3D27D4EB4FULL

/* mask of the low L bytes of a little-endian uint64 window, L = 0..8
 * (mirrors fsst._LEN_MASK) */
static const uint64_t LEN_MASK[9] = {
    0ULL,
    0xFFULL, 0xFFFFULL, 0xFFFFFFULL, 0xFFFFFFFFULL,
    0xFFFFFFFFFFULL, 0xFFFFFFFFFFFFULL, 0xFFFFFFFFFFFFFFULL,
    0xFFFFFFFFFFFFFFFFULL,
};

/* Greedy FSST encode of n_str concatenated strings.
 *
 * Exactly the parse of functions/fsst.py encode_buffer: strings are
 * virtually chopped into walk_seg-byte pieces (the parse restarts at each
 * cut; a symbol never crosses one), at each position the candidate is the
 * max over the 2-byte LUT (with the string-final-byte fallback to the
 * 1-byte entry) and the two lossy hash ways (3-byte-keyed way A, then
 * 4-byte-keyed way B, each winning only on lc > combo) — byte-identical
 * output to the NumPy walk by construction, pinned by property tests.
 *
 * buf must be readable for n + 8 bytes (caller zero-pads, matching the
 * NumPy _window_keys zero padding). out must hold 2*n bytes (worst case:
 * every byte escapes). Returns total encoded bytes; enc_lens[k] = encoded
 * bytes of string k.
 */
int64_t fsst_encode(const uint8_t *buf, int64_t n,
                    const int64_t *str_lens, int64_t n_str,
                    const uint16_t *lut12, const uint16_t *ones,
                    const uint64_t *sym_t, const uint16_t *lc_t,
                    int64_t hash_bits, int64_t walk_seg,
                    uint8_t *out, int64_t *enc_lens)
{
    (void)n;
    const int has_h3 = sym_t != NULL;
    const unsigned shift = (unsigned)(64 - hash_bits);
    const int64_t way_b = has_h3 ? ((int64_t)1 << hash_bits) : 0;
    int64_t o = 0;
    int64_t start = 0;
    for (int64_t k = 0; k < n_str; k++) {
        const int64_t slen = str_lens[k];
        const int64_t o_str = o;
        int64_t piece = start;
        const int64_t send = start + slen;
        while (piece < send) {
            int64_t pend = piece + walk_seg;
            if (pend > send) pend = send;
            int64_t pos = piece;
            while (pos < pend) {
                uint64_t w8;
                memcpy(&w8, buf + pos, 8);        /* padded past n */
                const int64_t rem = pend - pos;
                uint16_t combo = lut12[w8 & 0xFFFFu];
                if (combo >= (2u << 8) && rem < 2)
                    combo = ones[buf[pos]];
                if (has_h3) {
                    uint64_t slot = ((w8 & 0xFFFFFFULL) * HASH_MULT) >> shift;
                    uint16_t lc = lc_t[slot];
                    uint16_t lg = (uint16_t)(lc >> 8);
                    if ((w8 & LEN_MASK[lg]) == sym_t[slot]
                        && lc > combo && rem >= (int64_t)lg)
                        combo = lc;
                    slot = way_b + (((w8 & 0xFFFFFFFFULL) * HASH_MULT2)
                                    >> shift);
                    lc = lc_t[slot];
                    lg = (uint16_t)(lc >> 8);
                    if ((w8 & LEN_MASK[lg]) == sym_t[slot]
                        && lc > combo && rem >= (int64_t)lg)
                        combo = lc;
                }
                if (combo >= (1u << 8)) {          /* symbol code */
                    out[o++] = (uint8_t)(combo & 0xFF);
                    pos += combo >> 8;
                } else {                           /* escape + literal */
                    out[o++] = FSST_ESCAPE;
                    out[o++] = buf[pos];
                    pos += 1;
                }
            }
            piece = pend;
        }
        enc_lens[k] = o - o_str;
        start = send;
    }
    return o;
}

/* FSST decode of n_str concatenated strings into an Arrow `string`
 * array: one sequential token walk (code byte -> symbol, ESCAPE + byte ->
 * that byte). String k owns the tokens that START inside its enc_lens[k]
 * bytes, the attribution of functions/fsst.py decode_buffer, so both
 * paths give identical output on any stream.
 *
 * Two calls. With out NULL, a read-only size pass returns the decoded
 * byte count (stopping once it passes INT32_MAX), or -1 when the stream
 * ends in an ESCAPE with no literal. Then the caller allocates and calls
 * again to write out_offs[n_str + 1] and the bytes.
 *
 * Trusts (native.fsst_decode checks): sym_off holds 257 non-decreasing
 * offsets into pool, and pool is readable 8 bytes past sym_off[256];
 * out is writable 8 bytes past the size-pass total, which fits int32;
 * enc_lens are >= 0 and sum to m; the stream has no trailing ESCAPE.
 * A symbol of <= 8 bytes is copied as one 8-byte load/store.
 */
int64_t fsst_decode(const uint8_t *enc, int64_t m,
                    const int64_t *enc_lens, int64_t n_str,
                    const uint8_t *pool, const int64_t *sym_off,
                    int32_t *out_offs, uint8_t *out)
{
    if (!out) {
        int64_t total = 0;
        for (int64_t pos = 0; pos < m && total <= INT32_MAX; ) {
            const unsigned c = enc[pos];
            if (c == FSST_ESCAPE) {
                if (pos + 1 >= m)
                    return -1;
                total += 1;
                pos += 2;
            } else {
                total += sym_off[c + 1] - sym_off[c];
                pos += 1;
            }
        }
        return total;
    }
    int64_t pos = 0, o = 0, end = 0;
    out_offs[0] = 0;
    for (int64_t k = 0; k < n_str; k++) {
        end += enc_lens[k];
        while (pos < end) {
            const unsigned c = enc[pos];
            if (c == FSST_ESCAPE) {
                out[o++] = enc[pos + 1];
                pos += 2;
                continue;
            }
            const int64_t a = sym_off[c], len = sym_off[c + 1] - a;
            if (len <= 8) {
                uint64_t w8;
                memcpy(&w8, pool + a, 8);
                memcpy(out + o, &w8, 8);
            } else {
                memcpy(out + o, pool + a, (size_t)len);
            }
            o += len;
            pos += 1;
        }
        out_offs[k + 1] = (int32_t)o;
    }
    return o;
}

/* Copy dict value [a, a + len) to out. A value of <= 32 bytes with 32
 * readable bytes behind its start goes as one fixed-size 32-byte copy,
 * which the compiler inlines, so most dictionary lines cost no libc call;
 * out must be writable 32 bytes past the value. */
static inline void copy_value(uint8_t *out, const uint8_t *data,
                              int64_t data_len, int64_t a, int64_t len)
{
    if (len <= 32 && a + 32 <= data_len) {
        uint8_t blk[32];
        memcpy(blk, data + a, 32);
        memcpy(out, blk, 32);
    } else {
        memcpy(out, data + a, (size_t)len);
    }
}

/* Dictionary gather-join into an Arrow `string` array: row i is
 * sep.join(dict[idx[j]]) over its run of counts[i] consecutive indices
 * (one index per row when counts is NULL, so n_rows == n_idx). dict is
 * the Arrow layout: k + 1 offsets into data_len bytes of data. idx holds
 * uint32 (idx_width 4, as Huffman decode returns them) or int64 (8)
 * indices, read in place.
 *
 * Two calls. With out_data NULL, a read-only size pass returns the
 * output byte count (stopping once it passes INT32_MAX). Then the caller
 * allocates and calls again to write out_offs[n_rows + 1] and the bytes.
 *
 * Trusts (native.str_gather_join checks): 0 <= idx[j] < k; doffs is
 * non-decreasing within data; counts are >= 0 and sum to n_idx; the
 * size-pass total fits int32; out_data is writable 32 bytes past it.
 */
static inline __attribute__((always_inline)) int64_t
gather_join(const int32_t *doffs, const uint8_t *data, int64_t data_len,
            const void *idx, int u32, int64_t n_idx,
            const int64_t *counts, int64_t n_rows,
            const uint8_t *sep, int64_t sep_len,
            int32_t *out_offs, uint8_t *out_data)
{
    /* u32 is a constant at each call site below, so each copy of this
     * body reads one index type with no per-index branch */
#define IDX(j) (u32 ? (int64_t)((const uint32_t *)idx)[j] \
                    : ((const int64_t *)idx)[j])
    if (!out_data) {
        int64_t total = 0, joins = 0;
        if (counts)
            for (int64_t i = 0; i < n_rows; i++)
                joins += counts[i] > 0 ? counts[i] - 1 : 0;
        if (joins > INT32_MAX)
            return joins;
        total = joins * sep_len;
        for (int64_t j = 0; j < n_idx && total <= INT32_MAX; j++)
            total += doffs[IDX(j) + 1] - doffs[IDX(j)];
        return total;
    }
    int64_t o = 0, j = 0;
    out_offs[0] = 0;
    if (!counts) {          /* one value per row: a tighter loop */
        for (int64_t i = 0; i < n_rows; i++) {
            const int64_t a = doffs[IDX(i)];
            const int64_t len = doffs[IDX(i) + 1] - a;
            copy_value(out_data + o, data, data_len, a, len);
            o += len;
            out_offs[i + 1] = (int32_t)o;
        }
        return o;
    }
    for (int64_t i = 0; i < n_rows; i++) {
        const int64_t jstart = j, jend = j + counts[i];
        for (; j < jend; j++) {
            if (sep_len && j != jstart) {
                if (sep_len == 1)
                    out_data[o] = sep[0];
                else
                    memcpy(out_data + o, sep, (size_t)sep_len);
                o += sep_len;
            }
            const int64_t a = doffs[IDX(j)];
            const int64_t len = doffs[IDX(j) + 1] - a;
            copy_value(out_data + o, data, data_len, a, len);
            o += len;
        }
        out_offs[i + 1] = (int32_t)o;
    }
    return o;
#undef IDX
}

int64_t str_gather_join(const int32_t *doffs, const uint8_t *data,
                        int64_t data_len,
                        const void *idx, int64_t idx_width, int64_t n_idx,
                        const int64_t *counts, int64_t n_rows,
                        const uint8_t *sep, int64_t sep_len,
                        int32_t *out_offs, uint8_t *out_data)
{
    if (idx_width == 4)
        return gather_join(doffs, data, data_len, idx, 1, n_idx, counts,
                           n_rows, sep, sep_len, out_offs, out_data);
    return gather_join(doffs, data, data_len, idx, 0, n_idx, counts,
                       n_rows, sep, sep_len, out_offs, out_data);
}

/* Undo PNG row filters (RFC 2083 §6.2-6.6) for 8-bit samples.
 * data/out: h rows of w*ch bytes; filters: one byte per row; bpp = ch
 * (8-bit depth). Returns 0, or the offending row on an unknown filter
 * type (as -(row+1)); callers pre-validate so that path is defensive. */
int64_t png_defilter(const uint8_t *data, const uint8_t *filters,
                     int64_t h, int64_t w, int64_t ch, uint8_t *out)
{
    const int64_t stride = w * ch;
    for (int64_t r = 0; r < h; r++) {
        const uint8_t *cur = data + r * stride;
        const uint8_t *up = r ? out + (r - 1) * stride : NULL;
        uint8_t *o = out + r * stride;
        switch (filters[r]) {
        case 0:                                    /* None */
            memcpy(o, cur, (size_t)stride);
            break;
        case 1:                                    /* Sub */
            for (int64_t i = 0; i < ch && i < stride; i++)
                o[i] = cur[i];
            for (int64_t i = ch; i < stride; i++)
                o[i] = (uint8_t)(cur[i] + o[i - ch]);
            break;
        case 2:                                    /* Up */
            if (up)
                for (int64_t i = 0; i < stride; i++)
                    o[i] = (uint8_t)(cur[i] + up[i]);
            else
                memcpy(o, cur, (size_t)stride);
            break;
        case 3:                                    /* Average */
            for (int64_t i = 0; i < stride; i++) {
                const int a = i >= ch ? o[i - ch] : 0;
                const int b = up ? up[i] : 0;
                o[i] = (uint8_t)(cur[i] + ((a + b) >> 1));
            }
            break;
        case 4:                                    /* Paeth */
            for (int64_t i = 0; i < stride; i++) {
                const int a = i >= ch ? o[i - ch] : 0;
                const int b = up ? up[i] : 0;
                const int c = (up && i >= ch) ? up[i - ch] : 0;
                const int p = a + b - c;
                const int pa = p >= a ? p - a : a - p;
                const int pb = p >= b ? p - b : b - p;
                const int pc = p >= c ? p - c : c - p;
                const int pred = (pa <= pb && pa <= pc) ? a
                                 : (pb <= pc ? b : c);
                o[i] = (uint8_t)(cur[i] + pred);
            }
            break;
        default:
            return -(r + 1);
        }
    }
    return 0;
}

/* Winnowing window-minimum selection (Schleimer et al., SIGMOD 2003;
 * rightmost minimum on ties), doc-boundary-aware, with the
 * adjacent-repeat squeeze folded in. One monotonic-deque pass instead
 * of the NumPy path's log2(w) tournament passes + boundary masks.
 *
 * vals:   concatenated per-doc gram hashes (docs contiguous);
 * counts: grams per doc, nd entries;
 * w:      window length (>= 1).
 * out_idx (caller-sized to the total gram count) receives GLOBAL
 * indices of selected fingerprints: per doc with >= w grams, the
 * squeezed rightmost window minima; per doc with 1..w-1 grams, the
 * rightmost overall minimum (the paper's short-doc convention).
 * Returns the number of indices written, or -1 on allocation failure.
 */
int64_t winnow_select(const uint64_t *vals, const int64_t *counts,
                      int64_t nd, int64_t w, int64_t *out_idx)
{
    int64_t cap = (w > 0 ? w : 1) + 1;
    int64_t *deq = (int64_t *)malloc((size_t)cap * sizeof(int64_t));
    if (!deq)
        return -1;
    int64_t off = 0, m = 0;
    for (int64_t d = 0; d < nd; d++) {
        int64_t cnt = counts[d];
        if (cnt <= 0)
            continue;
        if (cnt < w) {
            int64_t best = off;
            for (int64_t i = off + 1; i < off + cnt; i++)
                if (vals[i] <= vals[best])   /* <= : rightmost min */
                    best = i;
            out_idx[m++] = best;
        } else {
            /* ring-buffer deque: head/tail are monotonically increasing
             * counters, slots indexed mod cap; size stays <= w + 1 */
            int64_t head = 0, tail = 0, last = -1;
            for (int64_t i = off; i < off + cnt; i++) {
                while (tail > head && vals[deq[(tail - 1) % cap]] >= vals[i])
                    tail--;                  /* >= : newer wins ties */
                deq[tail % cap] = i;
                tail++;
                if (deq[head % cap] <= i - w)
                    head++;
                if (i >= off + w - 1 && deq[head % cap] != last) {
                    out_idx[m++] = deq[head % cap];
                    last = deq[head % cap];
                }
            }
        }
        off += cnt;
    }
    free(deq);
    return m;
}

/* ------------------------------------------------------------------ *
 * Rolling-hash text kernels (mirror functions/similarity.py exactly:
 * polynomial hash mod 2^64 with multiplier P, splitmix64 finalizer,
 * length-salted — BIT-IDENTICAL to the NumPy prefix-sum path, which
 * computes (pre[e]-pre[s]) * P^-s == sum b[j] * P^(j-s) mod 2^64).
 * These feed every text-dedup signature (MinHash, SimHash, winnowing,
 * jaccard, contamination); the NumPy path runs ~58 MB/s per core on
 * word hashing — the sequential C pass removes the 8x uint64 blowup,
 * cumsum and gather passes.
 * ------------------------------------------------------------------ */

#define P_MULT   0x9E3779B97F4A7C15ULL
#define P_INV    0xF1DE83E19937733DULL
#define LEN_SALT 0xDA942042E4DD58B5ULL

static inline uint64_t mix64(uint64_t h)
{
    h ^= h >> 30; h *= 0xBF58476D1CE4E5B9ULL;
    h ^= h >> 27; h *= 0x94D049BB133111EBULL;
    h ^= h >> 31;
    return h;
}

static inline int is_ws(uint8_t c)
{
    return c == 32u || (c >= 9u && c <= 13u);
}

/* Word hashes over a document slab (docs joined by '\n' at the given
 * start offsets). Writes per-word hashes (caller sizes out_wh to
 * (n+1)/2 + 1, the max word count) and per-doc word counts; returns
 * the word total. */
int64_t slab_word_hashes(const uint8_t *buf, int64_t n,
                         const int64_t *doc_starts, int64_t nd,
                         uint64_t *out_wh, int64_t *out_wc)
{
    for (int64_t d = 0; d < nd; d++)
        out_wc[d] = 0;
    int64_t m = 0, d = 0, i = 0;
    while (i < n) {
        if (is_ws(buf[i])) {
            i++;
            continue;
        }
        int64_t s = i;
        uint64_t h = 0, p = 1;
        while (i < n && !is_ws(buf[i])) {
            h += (uint64_t)buf[i] * p;
            p *= P_MULT;
            i++;
        }
        while (d + 1 < nd && doc_starts[d + 1] <= s)
            d++;
        out_wc[d]++;
        out_wh[m++] = mix64(h ^ ((uint64_t)(i - s) * LEN_SALT));
    }
    return m;
}

/* Word n-gram hashes from a word-hash sequence (rolling update: one
 * multiply per gram). short_doc_gram: docs with 1..n-1 words emit one
 * gram over all their words (the word_ngrams convention) instead of
 * none. Caller sizes out_gh to the exact gram total it derives from
 * wc; returns the grams written. */
int64_t slab_gram_hashes(const uint64_t *wh, const int64_t *wc,
                         int64_t nd, int64_t ngram, int64_t short_doc_gram,
                         uint64_t *out_gh)
{
    uint64_t pn1 = 1;
    for (int64_t t = 0; t < ngram - 1; t++)
        pn1 *= P_MULT;
    const uint64_t salt = (uint64_t)ngram * LEN_SALT;
    int64_t off = 0, m = 0;
    for (int64_t d = 0; d < nd; d++) {
        int64_t cnt = wc[d];
        if (cnt <= 0)
            continue;
        if (cnt < ngram) {
            if (short_doc_gram) {
                uint64_t h = 0, p = 1;
                for (int64_t t = 0; t < cnt; t++) {
                    h += wh[off + t] * p;
                    p *= P_MULT;
                }
                out_gh[m++] = mix64(h ^ ((uint64_t)cnt * LEN_SALT));
            }
        } else {
            uint64_t raw = 0, p = 1;
            for (int64_t t = 0; t < ngram; t++) {
                raw += wh[off + t] * p;
                p *= P_MULT;
            }
            out_gh[m++] = mix64(raw ^ salt);
            for (int64_t s = 1; s + ngram <= cnt; s++) {
                raw = (raw - wh[off + s - 1]) * P_INV
                      + wh[off + s + ngram - 1] * pn1;
                out_gh[m++] = mix64(raw ^ salt);
            }
        }
        off += cnt;
    }
    return m;
}

/* ------------------------------------------------------------------ *
 * Baseline JPEG entropy decode (ITU-T T.81 F.2.2) of one restart-
 * delimited, UNSTUFFED segment — mirrors operators/jpeg.py
 * _decode_segment_py exactly. Huffman tables arrive flattened per
 * (component, dc|ac): mincode/maxcode/valptr int64[17] + vals u8[256].
 * out: int32 (total_blocks, 64), zigzag order, PRE-ZEROED by caller.
 * Returns blocks written, or -1 (bits exhausted) / -2 (bad code) /
 * -3 (AC run past block end).
 * ------------------------------------------------------------------ */

typedef struct {
    const uint8_t *d;
    int64_t n, pos;
    int bit;
} jbits;

static inline int jbit(jbits *b)
{
    if (b->pos >= b->n)
        return -1;
    int v = (b->d[b->pos] >> (7 - b->bit)) & 1;
    if (++b->bit == 8) {
        b->bit = 0;
        b->pos++;
    }
    return v;
}

static inline int64_t jbitsn(jbits *b, int n)
{
    int64_t v = 0;
    for (int i = 0; i < n; i++) {
        int x = jbit(b);
        if (x < 0)
            return -1;
        v = (v << 1) | x;
    }
    return v;
}

static inline int jhuff(jbits *b, const int64_t *minc, const int64_t *maxc,
                        const int64_t *vptr, const uint8_t *vals)
{
    int64_t code = 0;
    for (int ln = 1; ln <= 16; ln++) {
        int x = jbit(b);
        if (x < 0)
            return -1;
        code = (code << 1) | x;
        if (maxc[ln] >= 0 && code <= maxc[ln])
            return vals[vptr[ln] + code - minc[ln]];
    }
    return -2;
}

static inline int64_t jextend(int64_t v, int t)
{
    if (t == 0)
        return 0;
    return v >= ((int64_t)1 << (t - 1)) ? v : v - (((int64_t)1 << t) - 1);
}

int64_t jpeg_entropy_decode(const uint8_t *data, int64_t n,
                            int64_t n_mcus, const int64_t *sched,
                            int64_t sched_n, int64_t n_comp,
                            const int64_t *minc, const int64_t *maxc,
                            const int64_t *vptr, const uint8_t *vals,
                            int32_t *out, int64_t start_block)
{
    int64_t preds[16];
    if (n_comp > 16)
        return -2;
    for (int64_t c = 0; c < n_comp; c++)
        preds[c] = 0;
    jbits b = { data, n, 0, 0 };
    int64_t bi = start_block;
    for (int64_t m = 0; m < n_mcus; m++) {
        for (int64_t s = 0; s < sched_n; s++) {
            int64_t ci = sched[s];
            const int64_t *dmin = minc + (ci * 2 + 0) * 17;
            const int64_t *dmax = maxc + (ci * 2 + 0) * 17;
            const int64_t *dvp = vptr + (ci * 2 + 0) * 17;
            const uint8_t *dv = vals + (ci * 2 + 0) * 256;
            const int64_t *amin = minc + (ci * 2 + 1) * 17;
            const int64_t *amax = maxc + (ci * 2 + 1) * 17;
            const int64_t *avp = vptr + (ci * 2 + 1) * 17;
            const uint8_t *av = vals + (ci * 2 + 1) * 256;
            int32_t *blk = out + bi * 64;
            int t = jhuff(&b, dmin, dmax, dvp, dv);
            if (t < 0)
                return t == -1 ? -1 : -2;
            if (t) {
                int64_t raw = jbitsn(&b, t);
                if (raw < 0)
                    return -1;
                preds[ci] += jextend(raw, t);
            }
            blk[0] = (int32_t)preds[ci];
            int k = 1;
            while (k < 64) {
                int rs = jhuff(&b, amin, amax, avp, av);
                if (rs < 0)
                    return rs == -1 ? -1 : -2;
                int rr = rs >> 4, ss = rs & 0xF;
                if (ss == 0) {
                    if (rr == 15) {
                        k += 16;
                        continue;
                    }
                    break;
                }
                k += rr;
                if (k > 63)
                    return -3;
                int64_t raw = jbitsn(&b, ss);
                if (raw < 0)
                    return -1;
                blk[k] = (int32_t)jextend(raw, ss);
                k++;
            }
            bi++;
        }
    }
    return bi - start_block;
}

/* Fused winnowing fingerprints: selection (as winnow_select) plus the
 * per-doc DISTINCT + ascending sort the Python batch path does with
 * global radix argsorts. Selections per doc are few (density 2/(w+1))
 * and already position-ordered, so a per-doc insertion-style
 * sort+unique is cache-resident and removes ~1/3 of the batch wall.
 * out_fps: caller-sized to the gram total; out_nfp: int64[nd].
 * Returns total fingerprints written, or -1 on allocation failure. */

static int cmp_u64(const void *a, const void *b)
{
    uint64_t x = *(const uint64_t *)a, y = *(const uint64_t *)b;
    return x < y ? -1 : (x > y ? 1 : 0);
}

int64_t winnow_fps(const uint64_t *vals, const int64_t *counts,
                   int64_t nd, int64_t w,
                   uint64_t *out_fps, int64_t *out_nfp)
{
    int64_t cap = (w > 0 ? w : 1) + 1;
    int64_t *deq = (int64_t *)malloc((size_t)cap * sizeof(int64_t));
    if (!deq)
        return -1;
    int64_t off = 0, m = 0;
    for (int64_t d = 0; d < nd; d++) {
        int64_t cnt = counts[d];
        out_nfp[d] = 0;
        if (cnt <= 0)
            continue;
        int64_t m0 = m;
        if (cnt < w) {
            uint64_t best = vals[off];
            for (int64_t i = off + 1; i < off + cnt; i++)
                if (vals[i] <= best)
                    best = vals[i];
            out_fps[m++] = best;
        } else {
            int64_t head = 0, tail = 0, last = -1;
            for (int64_t i = off; i < off + cnt; i++) {
                while (tail > head && vals[deq[(tail - 1) % cap]] >= vals[i])
                    tail--;
                deq[tail % cap] = i;
                tail++;
                if (deq[head % cap] <= i - w)
                    head++;
                if (i >= off + w - 1 && deq[head % cap] != last) {
                    last = deq[head % cap];
                    out_fps[m++] = vals[last];
                }
            }
        }
        /* per-doc ascending sort + unique (squeeze already removed
         * positional repeats; value repeats from different positions
         * remain and collapse here) */
        int64_t k = m - m0;
        if (k > 1) {
            qsort(out_fps + m0, (size_t)k, sizeof(uint64_t), cmp_u64);
            int64_t u = m0 + 1;
            for (int64_t i = m0 + 1; i < m; i++)
                if (out_fps[i] != out_fps[u - 1])
                    out_fps[u++] = out_fps[i];
            m = u;
        }
        out_nfp[d] = m - m0;
        off += cnt;
    }
    free(deq);
    return m;
}

/* ------------------------------------------------------------------ *
 * One-permutation MinHash (bucket-min + rotation densification,
 * Shrivastava & Li ICML'14) — mirrors similarity._oph_signatures /
 * _oph_densify exactly. gh: concatenated gram hashes; counts: grams
 * per doc. out_sig: uint64 (nd, n_hashes), written fully (EMPTY fill,
 * min-update, densify in one pass per row). densify_c is the rotation
 * constant; EMPTY is all-ones. The NumPy path allocates ~6 transient
 * (nd, 2k) matrices per batch — on 30-word docs that overhead, not the
 * hashing, is the floor; here it is three tight loops.
 * ------------------------------------------------------------------ */
#define OPH_EMPTY 0xFFFFFFFFFFFFFFFFULL

int64_t oph_minhash(const uint64_t *gh, const int64_t *counts, int64_t nd,
                    int64_t n_hashes, uint64_t densify_c, uint64_t *out_sig)
{
    int64_t lg = 0;
    while (((int64_t)1 << lg) < n_hashes)
        lg++;
    const int64_t shift = 64 - lg;
    int64_t off = 0;
    for (int64_t d = 0; d < nd; d++) {
        uint64_t *row = out_sig + d * n_hashes;
        for (int64_t j = 0; j < n_hashes; j++)
            row[j] = OPH_EMPTY;
        const int64_t cnt = counts[d];
        for (int64_t i = 0; i < cnt; i++) {
            const uint64_t h = gh[off + i];
            const int64_t b = (int64_t)(h >> shift);
            if (h < row[b])
                row[b] = h;
        }
        off += cnt;
        /* rotation densification: nearest non-empty at-or-left on the
         * doubled circular axis, + distance * C */
        int64_t last = -1;
        uint64_t lastv = 0;
        for (int64_t j = 0; j < n_hashes; j++)
            if (row[j] != OPH_EMPTY) {
                last = j;
                lastv = row[j];
            }
        if (last < 0) {
            for (int64_t j = 0; j < n_hashes; j++)
                row[j] = 0;
            continue;
        }
        for (int64_t j = 0; j < n_hashes; j++) {
            if (row[j] != OPH_EMPTY) {
                last = n_hashes + j;
                lastv = row[j];
            } else {
                row[j] = lastv
                    + (uint64_t)(n_hashes + j - last) * densify_c;
            }
        }
    }
    return nd;
}

/* ------------------------------------------------------------------ *
 * 64-bit SimHash over word hashes — mirrors similarity.simhash64_batch
 * (majority vote per bit; empty docs -> 0). The NumPy path builds a
 * (nd << 8) histogram per byte lane, which on 30-word docs touches
 * 2048 mostly-empty bins per doc; here it is cnt[64] in registers/L1.
 * ------------------------------------------------------------------ */
int64_t simhash_batch(const uint64_t *wh, const int64_t *wc, int64_t nd,
                      uint64_t *out_sig)
{
    int64_t off = 0;
    for (int64_t d = 0; d < nd; d++) {
        const int64_t cnt = wc[d];
        if (cnt <= 0) {
            out_sig[d] = 0;
            continue;
        }
        int32_t ones[64] = {0};
        for (int64_t i = 0; i < cnt; i++) {
            const uint64_t h = wh[off + i];
            for (int64_t b = 0; b < 64; b++)
                ones[b] += (int32_t)((h >> b) & 1u);
        }
        uint64_t sig = 0;
        for (int64_t b = 0; b < 64; b++)
            if (2 * (int64_t)ones[b] > cnt)
                sig |= 1ULL << b;
        out_sig[d] = sig;
        off += cnt;
    }
    return nd;
}

/* ------------------------------------------------------------------ *
 * Canonical Huffman segment decode — mirrors huffman._decode_numpy.
 *
 * payload: concatenated byte-aligned segment bitstreams, nbytes long;
 * a window reaching past the end reads zero bytes there, matching the
 * NumPy path's zero padding, so the caller passes the payload in place.
 * lut_sym/lut_len: the 2^table_bits prefix LUT built by
 * huffman._decode_lut (lut_len[w] = 0 marks an invalid window, only
 * reachable on corrupt streams). seg_off: n_seg+1 byte offsets into
 * payload. out must hold n uint32 symbols. Returns n, or -(seg+1) on a
 * corrupt segment (invalid code / bit-cursor overrun).
 * ------------------------------------------------------------------ */
int64_t huff_decode(const uint8_t *payload, int64_t nbytes,
                    const uint32_t *lut_sym, const uint8_t *lut_len,
                    int64_t table_bits,
                    const int64_t *seg_off, int64_t n_seg,
                    int64_t seg_syms, int64_t n, uint32_t *out)
{
    const uint32_t mask = (uint32_t)((1u << table_bits) - 1u);
    for (int64_t s = 0; s < n_seg; s++) {
        int64_t count = n - s * seg_syms;
        if (count > seg_syms)
            count = seg_syms;
        uint64_t bp = (uint64_t)seg_off[s] * 8u;
        const uint64_t end = (uint64_t)seg_off[s + 1] * 8u;
        uint32_t *dst = out + s * seg_syms;
        for (int64_t j = 0; j < count; j++) {
            const uint64_t b = bp >> 3;
            uint32_t win;
            if (b + 4 <= (uint64_t)nbytes) {
                win = ((uint32_t)payload[b] << 24)
                      | ((uint32_t)payload[b + 1] << 16)
                      | ((uint32_t)payload[b + 2] << 8)
                      | (uint32_t)payload[b + 3];
            } else {        /* the last 3 bytes: zeros past the end */
                win = 0;
                for (uint64_t t = 0; t < 4; t++)
                    win = (win << 8)
                          | (b + t < (uint64_t)nbytes ? payload[b + t] : 0u);
            }
            win >>= 32 - (int)table_bits - (int)(bp & 7u);
            const uint32_t w = win & mask;
            const uint8_t l = lut_len[w];
            if (!l)
                return -(s + 1);
            dst[j] = lut_sym[w];
            bp += l;
            if (bp > end)
                return -(s + 1);
        }
    }
    return n;
}

/* ------------------------------------------------------------------ *
 * Canonical Huffman segment encode — mirrors huffman._encode_block.
 *
 * v: n int64 symbols (0..k-1); sym_len: k uint8 code lengths (0 =
 * absent, an error if referenced); codes: k uint32 MSB-first canonical
 * codes. Segments of seg_syms symbols are each byte-aligned with their
 * byte length written to seg_bytes (n_seg = max(1, ceil(n/seg_syms))
 * entries); pad bits are zero, matching the NumPy zero-filled buffer.
 * Returns total bytes written, -1 on a zero-length symbol, -2 if out
 * would overflow out_cap.
 * ------------------------------------------------------------------ */
int64_t huff_encode(const int64_t *v, int64_t n,
                    const uint8_t *sym_len, const uint32_t *codes,
                    int64_t seg_syms,
                    uint8_t *out, int64_t out_cap, uint32_t *seg_bytes)
{
    const int64_t n_seg = n > 0 ? (n + seg_syms - 1) / seg_syms : 1;
    int64_t pos = 0;
    for (int64_t s = 0; s < n_seg; s++) {
        const int64_t lo = s * seg_syms;
        int64_t hi = lo + seg_syms;
        if (hi > n)
            hi = n;
        uint64_t acc = 0;
        int nbits = 0;
        const int64_t seg_start = pos;
        for (int64_t j = lo; j < hi; j++) {
            const int64_t sym = v[j];
            const int L = sym_len[sym];
            if (!L)
                return -1;
            acc = (acc << L) | codes[sym];
            nbits += L;
            while (nbits >= 8) {
                if (pos >= out_cap)
                    return -2;
                nbits -= 8;
                out[pos++] = (uint8_t)(acc >> nbits);
            }
        }
        if (nbits > 0) {
            if (pos >= out_cap)
                return -2;
            out[pos++] = (uint8_t)(acc << (8 - nbits));
        }
        seg_bytes[s] = (uint32_t)(pos - seg_start);
    }
    return pos;
}

/* ------------------------------------------------------------------ *
 * Fixed-width MSB-first bit pack/unpack — mirrors bitpack.pack_uints /
 * unpack_uints (np.packbits over a bit matrix) byte-for-byte, without
 * materializing the n x width bit matrix. Used by every int codec
 * (FoR/delta deltas, dict/RLE code streams), where the NumPy matrix
 * path was the dominant cost of encoding large int chunks.
 *
 * pack_bits: returns bytes written, -1 if out_cap is too small.
 * unpack_bits: returns n, -1 if the payload is shorter than n*width.
 * ------------------------------------------------------------------ */
int64_t pack_bits(const uint64_t *v, int64_t n, int64_t width,
                  uint8_t *out, int64_t out_cap)
{
    const int64_t need = (n * width + 7) / 8;
    if (need > out_cap)
        return -1;
    uint8_t acc = 0;
    int nbits = 0;
    int64_t pos = 0;
    for (int64_t i = 0; i < n; i++) {
        const uint64_t val = v[i];
        int rem = (int)width;
        while (rem > 0) {
            const int space = 8 - nbits;
            const int take = rem < space ? rem : space;
            const uint8_t chunk =
                (uint8_t)((val >> (rem - take))
                          & (uint8_t)((1u << take) - 1u));
            acc = (uint8_t)((acc << take) | chunk);
            nbits += take;
            rem -= take;
            if (nbits == 8) {
                out[pos++] = acc;
                acc = 0;
                nbits = 0;
            }
        }
    }
    if (nbits > 0)
        out[pos++] = (uint8_t)(acc << (8 - nbits));
    return pos;
}

int64_t unpack_bits(const uint8_t *data, int64_t nbytes, int64_t n,
                    int64_t width, uint64_t *out)
{
    const int64_t need = (n * width + 7) / 8;
    if (need > nbytes)
        return -1;
    uint64_t bp = 0;
    for (int64_t i = 0; i < n; i++) {
        uint64_t val = 0;
        int rem = (int)width;
        while (rem > 0) {
            const int64_t b = (int64_t)(bp >> 3);
            const int off = (int)(bp & 7u);
            const int avail = 8 - off;
            const int take = rem < avail ? rem : avail;
            const uint8_t chunk =
                (uint8_t)((data[b] >> (avail - take))
                          & (uint8_t)((1u << take) - 1u));
            val = (val << take) | chunk;
            bp += (uint64_t)take;
            rem -= take;
        }
        out[i] = val;
    }
    return n;
}

/* ---------------------------------------------------------------------
 * Huffman code-length construction, length-limited per ITU-T T.81 K.3 —
 * mirrors huffman.code_lengths exactly: stable count-sort of the present
 * alphabet (ties by symbol index, which equals NumPy's stable argsort
 * over the ascending-index present list), two-queue merge, root-down
 * depth walk, Adjust_BITS, then shortest lengths assigned
 * most-frequent-first. The merge is a data-dependent sequential chain —
 * unvectorizable in NumPy, hence this kernel (r8: ~4 ms/call in Python
 * at 4k symbols, called once per eligible int stream on the encode hot
 * path). Fills lens_out[k] (0 = unused symbol); returns the number of
 * present symbols, -1 when more than 2^max_len symbols are present (no
 * such code exists; caller raises), or -2 on allocation failure (caller
 * falls back).
 */
typedef struct { int64_t w; int64_t idx; } hclw;

static int hclw_cmp(const void *a, const void *b) {
    const hclw *x = (const hclw *)a, *y = (const hclw *)b;
    if (x->w != y->w) return x->w < y->w ? -1 : 1;
    return x->idx < y->idx ? -1 : (x->idx > y->idx ? 1 : 0);
}

int64_t huff_code_lengths(const int64_t *counts, int64_t k,
                          int64_t max_len, uint8_t *lens_out) {
    int64_t m = 0, i;
    for (i = 0; i < k; i++) { lens_out[i] = 0; if (counts[i] > 0) m++; }
    if (m == 0) return 0;
    /* past 2^max_len symbols Adjust_BITS would walk bits[] below index 0 */
    if (max_len < 0 || (max_len < 62 && m > ((int64_t)1 << max_len)))
        return -1;
    if (m == 1) {
        for (i = 0; i < k; i++) if (counts[i] > 0) { lens_out[i] = 1; break; }
        return 1;
    }
    hclw *order = (hclw *)malloc((size_t)m * sizeof(hclw));
    int64_t *leaf_w = (int64_t *)malloc((size_t)m * sizeof(int64_t));
    int64_t *node_w = (int64_t *)malloc((size_t)(m - 1) * sizeof(int64_t));
    int64_t *kid0 = (int64_t *)malloc((size_t)(m - 1) * sizeof(int64_t));
    int64_t *kid1 = (int64_t *)malloc((size_t)(m - 1) * sizeof(int64_t));
    int64_t *depth = (int64_t *)calloc((size_t)(m - 1), sizeof(int64_t));
    int64_t *raw = (int64_t *)calloc((size_t)m, sizeof(int64_t));
    int64_t *bits = NULL;
    int64_t ret = -2;
    if (!order || !leaf_w || !node_w || !kid0 || !kid1 || !depth || !raw)
        goto done;
    {
        int64_t j = 0;
        for (i = 0; i < k; i++)
            if (counts[i] > 0) { order[j].w = counts[i]; order[j].idx = i; j++; }
    }
    qsort(order, (size_t)m, sizeof(hclw), hclw_cmp);
    for (i = 0; i < m; i++) leaf_w[i] = order[i].w;
    {   /* two-queue merge: FIFO node queue stays weight-sorted */
        int64_t li = 0, nh = 0, nt = 0, t, s;
        for (t = 0; t < m - 1; t++) {
            int64_t pw[2], pi[2];
            for (s = 0; s < 2; s++) {
                int take_leaf = (li < m)
                    && (nh >= nt || leaf_w[li] <= node_w[nh]);
                if (take_leaf) { pw[s] = leaf_w[li]; pi[s] = li; li++; }
                else { pw[s] = node_w[nh]; pi[s] = m + nh; nh++; }
            }
            node_w[nt] = pw[0] + pw[1];
            kid0[nt] = pi[0]; kid1[nt] = pi[1]; nt++;
        }
    }
    {   /* leaf depths: walk nodes root-down (last node is the root) */
        int64_t t, c, d;
        for (t = m - 2; t >= 0; t--) {
            d = depth[t] + 1;
            c = kid0[t];
            if (c >= m) depth[c - m] = d; else raw[c] = d;
            c = kid1[t];
            if (c >= m) depth[c - m] = d; else raw[c] = d;
        }
    }
    {   /* BITS histogram + T.81 K.3 Adjust_BITS length limit */
        int64_t max_raw = 0, t, bits_n;
        for (t = 0; t < m; t++) if (raw[t] > max_raw) max_raw = raw[t];
        bits_n = (max_raw > max_len ? max_raw : max_len) + 1;
        bits = (int64_t *)calloc((size_t)bits_n, sizeof(int64_t));
        if (!bits) goto done;
        for (t = 0; t < m; t++) bits[raw[t]]++;
        i = max_raw;
        while (i > max_len) {
            while (bits[i] > 0) {
                int64_t j = i - 2;
                while (bits[j] == 0) j--;
                bits[i] -= 2; bits[i - 1] += 1;
                bits[j + 1] += 2; bits[j] -= 1;
            }
            i--;
        }
        {   /* shortest lengths to the most frequent symbols */
            int64_t pos = 0, length, c2;
            for (length = 1; length <= max_len; length++)
                for (c2 = 0; c2 < bits[length]; c2++) {
                    lens_out[order[m - 1 - pos].idx] = (uint8_t)length;
                    pos++;
                }
        }
    }
    ret = m;
done:
    free(order); free(leaf_w); free(node_w); free(kid0); free(kid1);
    free(depth); free(raw); free(bits);
    return ret;
}

/* ------------------------------------------------------------------
 * String codec selection: the segment dictionary and FSST training.
 * ------------------------------------------------------------------ */

#define BYTE_ONES  0x0101010101010101ULL
#define BYTE_HIGHS 0x8080808080808080ULL

/* Hash of a segment: its 8-byte little-endian words folded in order, a
 * last partial word zero-filled, then its length. seg_end computes the
 * same value while it looks for the separator. */
static inline uint64_t hash_word(uint64_t h, uint64_t w)
{
    h = (h ^ w) * HASH_MULT2;
    return h ^ (h >> 29);
}

static inline uint64_t hash_done(uint64_t h, int64_t len)
{
    return mix64(h ^ ((uint64_t)len * P_MULT));
}

static inline uint64_t bytes_hash(const uint8_t *p, int64_t len)
{
    uint64_t h = 0;
    int64_t i = 0;
    for (; i + 8 <= len; i += 8) {
        uint64_t w;
        memcpy(&w, p + i, 8);
        h = hash_word(h, w);
    }
    if (i < len) {
        uint64_t w = 0;
        memcpy(&w, p + i, (size_t)(len - i));
        h = hash_word(h, w);
    }
    return hash_done(h, len);
}

/* The first byte equal to sep in [p, end), or end, found one 8-byte word
 * at a time (the lowest flagged byte of the zero-byte test is exact);
 * *hash gets bytes_hash of the bytes before it. */
static inline const uint8_t *seg_end(const uint8_t *p, const uint8_t *end,
                                     uint8_t sep, uint64_t *hash)
{
    const uint64_t sm = (uint64_t)sep * BYTE_ONES;
    const uint8_t *s = p;
    uint64_t h = 0;
    for (;;) {
        const int64_t rem = end - s;
        uint64_t w = 0, z;
        if (rem >= 8) {
            memcpy(&w, s, 8);
            z = ((w ^ sm) - BYTE_ONES) & ~(w ^ sm) & BYTE_HIGHS;
        } else {
            if (rem > 0) memcpy(&w, s, (size_t)rem);
            z = ((w ^ sm) - BYTE_ONES) & ~(w ^ sm) & BYTE_HIGHS
                & LEN_MASK[rem];
        }
        if (z || rem <= 8) {
            const int64_t i = z ? __builtin_ctzll(z) >> 3 : rem;
            if (i) h = hash_word(h, w & LEN_MASK[i]);
            *hash = hash_done(h, (s - p) + i);
            return s + i;
        }
        h = hash_word(h, w);
        s += 8;
    }
}

/* Occurrences of the bytes a and b in data[0..n), both counted in one
 * read with no temporary: out[0] gets a's count, out[1] b's. Blocks of
 * 16 x 255 bytes count into 16 byte lanes each (255 cannot overflow a
 * lane), which the compiler vectorizes. */
void count_bytes2(const uint8_t *data, int64_t n, int64_t a, int64_t b,
                  int64_t *out)
{
    const uint8_t ua = (uint8_t)a, ub = (uint8_t)b;
    int64_t ca = 0, cb = 0, i = 0;
    while (n - i >= 16 * 255) {
        uint8_t la[16] = {0}, lb[16] = {0};
        for (int k = 0; k < 255; k++, i += 16)
            for (int l = 0; l < 16; l++) {
                la[l] += data[i + l] == ua;
                lb[l] += data[i + l] == ub;
            }
        for (int l = 0; l < 16; l++) {
            ca += la[l];
            cb += lb[l];
        }
    }
    for (; i < n; i++) {
        ca += data[i] == ua;
        cb += data[i] == ub;
    }
    out[0] = ca;
    out[1] = cb;
}

typedef struct { uint64_t h; int64_t id; } sd_slot;     /* id -1: empty */

/* Double an open-addressing table of cap slots; returns the new one, or
 * NULL on allocation failure (the old one is freed either way). */
static sd_slot *sd_grow(sd_slot *t, int64_t cap)
{
    sd_slot *g = (sd_slot *)malloc((size_t)(2 * cap) * sizeof(sd_slot));
    if (g) {
        const uint64_t mask = (uint64_t)(2 * cap - 1);
        for (int64_t s = 0; s < 2 * cap; s++) g[s].id = -1;
        for (int64_t s = 0; s < cap; s++) {
            if (t[s].id < 0) continue;
            uint64_t j = t[s].h & mask;
            while (g[j].id >= 0) j = (j + 1) & mask;
            g[j] = t[s];
        }
    }
    free(t);
    return g;
}

/* Split the n_rows values of an Arrow `string` array (offs[n_rows + 1]
 * into data) on the byte sep, or take whole values when sep < 0, and
 * dictionary-encode the segments: ids[j] numbers segment j's value in
 * first-occurrence order, the unique values go to u_offs / u_data as an
 * Arrow `string` array, and row_counts[i] (when not NULL) gets row i's
 * segment count. A row holding c separators gives c + 1 segments, empty
 * ones included, as Arrow split_pattern does.
 *
 * Two calls. With ids NULL, a read-only pass returns the segment count.
 * Then the caller allocates and calls again; that call returns the
 * number of unique values, or -1 on allocation failure.
 *
 * Trusts (native.str_split_dedup checks): offs is non-decreasing within
 * data; ids holds the first call's count, u_offs one more, u_data
 * offs[n_rows] - offs[0] bytes and row_counts n_rows entries.
 */
int64_t str_split_dedup(const int32_t *offs, int64_t n_rows,
                        const uint8_t *data, int64_t sep,
                        int64_t *row_counts, int32_t *ids,
                        int32_t *u_offs, uint8_t *u_data)
{
    if (!ids) {
        int64_t segs = n_rows;
        if (sep >= 0)
            for (int64_t i = offs[0]; i < offs[n_rows]; i++)
                segs += data[i] == (uint8_t)sep;
        return segs;
    }
    int64_t cap = 1024, k = 0, j = 0, ub = 0;
    sd_slot *t = (sd_slot *)malloc((size_t)cap * sizeof(sd_slot));
    if (!t) return -1;
    for (int64_t s = 0; s < cap; s++) t[s].id = -1;
    u_offs[0] = 0;
    for (int64_t i = 0; i < n_rows; i++) {
        const uint8_t *p = data + offs[i], *end = data + offs[i + 1];
        const int64_t j0 = j;
        for (;;) {
            uint64_t h;
            const uint8_t *q = end;
            if (sep >= 0)
                q = seg_end(p, end, (uint8_t)sep, &h);
            else
                h = bytes_hash(p, end - p);
            const int64_t len = q - p;
            const uint64_t mask = (uint64_t)(cap - 1);
            uint64_t s = h & mask;
            for (;;) {
                const int64_t id = t[s].id;
                if (id < 0) {                       /* a new value */
                    memcpy(u_data + ub, p, (size_t)len);
                    ub += len;
                    u_offs[k + 1] = (int32_t)ub;
                    t[s].h = h;
                    t[s].id = k;
                    ids[j] = (int32_t)k++;
                    if (2 * k > cap) {
                        t = sd_grow(t, cap);
                        if (!t) return -1;
                        cap *= 2;
                    }
                    break;
                }
                if (t[s].h == h && u_offs[id + 1] - u_offs[id] == len
                    && memcmp(u_data + u_offs[id], p, (size_t)len) == 0) {
                    ids[j] = (int32_t)id;
                    break;
                }
                s = (s + 1) & mask;
            }
            j++;
            if (q == end) break;
            p = q + 1;
        }
        if (row_counts) row_counts[i] = j - j0;
    }
    free(t);
    return k;
}

typedef struct { uint64_t sym; int64_t gain; int64_t len; } tc_slot;
/* an open-addressing table of candidates; a slot with len 0 is empty */
typedef struct { tc_slot *t; int64_t cap, used; } tc_table;

static inline uint64_t tc_hash(uint64_t sym, int64_t len)
{
    return mix64(sym ^ ((uint64_t)len * LEN_SALT));
}

/* Add len to the gain of candidate (sym, len); returns -1 on allocation
 * failure. The table doubles before it passes half full. */
static int tc_add(tc_table *tt, uint64_t sym, int64_t len)
{
    if (2 * (tt->used + 1) > tt->cap) {
        const int64_t cap2 = 2 * tt->cap;
        tc_slot *g = (tc_slot *)calloc((size_t)cap2, sizeof(tc_slot));
        if (!g) return -1;
        for (int64_t o = 0; o < tt->cap; o++) {
            if (!tt->t[o].len) continue;
            uint64_t r = tc_hash(tt->t[o].sym, tt->t[o].len)
                         & (uint64_t)(cap2 - 1);
            while (g[r].len) r = (r + 1) & (uint64_t)(cap2 - 1);
            g[r] = tt->t[o];
        }
        free(tt->t);
        tt->t = g;
        tt->cap = cap2;
    }
    const uint64_t mask = (uint64_t)(tt->cap - 1);
    uint64_t s = tc_hash(sym, len) & mask;
    tc_slot *t = tt->t;
    while (t[s].len && (t[s].len != len || t[s].sym != sym))
        s = (s + 1) & mask;
    if (!t[s].len) {
        t[s].sym = sym;
        t[s].len = len;
        tt->used++;
    }
    t[s].gain += len;
    return 0;
}

/* The counting walk of one FSST training iteration (functions/fsst.py
 * train): walk each of the n_str strings (str_lens, concatenated in buf)
 * token by token, a token being the match_len[pos] bytes at pos (1 when
 * 0), and add len to the gain of each token and of each adjacent token
 * pair of <= 8 bytes inside one string. A candidate is (sym, len): its
 * bytes as a little-endian uint64 masked to len bytes.
 *
 * Writes each distinct candidate once, in no particular order, to
 * out_sym / out_len / out_gain; returns their count, or -1 on
 * allocation failure.
 *
 * Trusts (native.fsst_train_count checks): buf is readable n + 8 bytes;
 * str_lens are >= 0 and sum to n; match_len holds n entries of 0..8,
 * none past the end of its string; the outputs hold 2n entries (a token
 * and a pair per position at most).
 */
int64_t fsst_train_count(const uint8_t *buf, int64_t n,
                         const int64_t *str_lens, int64_t n_str,
                         const int64_t *match_len,
                         uint64_t *out_sym, uint8_t *out_len,
                         int64_t *out_gain)
{
    (void)n;
    tc_table tt = {(tc_slot *)calloc(4096, sizeof(tc_slot)), 4096, 0};
    if (!tt.t) return -1;
    int64_t start = 0;
    for (int64_t k = 0; k < n_str; k++) {
        const int64_t end = start + str_lens[k];
        int64_t pos = start, prev = -1, prev_len = 0;
        while (pos < end) {
            const int64_t L = match_len[pos] ? match_len[pos] : 1;
            uint64_t w;
            memcpy(&w, buf + pos, 8);               /* padded past n */
            if (tc_add(&tt, w & LEN_MASK[L], L)) goto fail;
            if (prev >= 0 && prev_len + L <= 8) {
                memcpy(&w, buf + prev, 8);
                if (tc_add(&tt, w & LEN_MASK[prev_len + L], prev_len + L))
                    goto fail;
            }
            prev = pos;
            prev_len = L;
            pos += L;
        }
        start = end;
    }
    int64_t m = 0;
    for (int64_t s = 0; s < tt.cap; s++) {
        if (!tt.t[s].len) continue;
        out_sym[m] = tt.t[s].sym;
        out_len[m] = (uint8_t)tt.t[s].len;
        out_gain[m] = tt.t[s].gain;
        m++;
    }
    free(tt.t);
    return m;
fail:
    free(tt.t);
    return -1;
}

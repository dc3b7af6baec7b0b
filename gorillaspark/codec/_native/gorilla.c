/* Native Gorilla v2 block codec: the production path, built on demand.
 *
 * A from-scratch C implementation of the same stream format as
 * gorillaspark.codec.scalar — bit-exact vs the reference
 * gorilla-tsc v2 (GorillaCompressor + LongArrayOutput semantics:
 * MSB-first 64-bit words, 27-bit first delta, zigzag delta-of-delta
 * size buckets incl. the bitsRequired==0 -> 36-bit quirk, XOR value
 * packing with leading/trailing-zero window reuse, '1111'+0xFFFFFFFF
 * close marker, trailing-word snapshot).
 *
 * Compiled on demand by codec/native.py (cc -O3 -shared -fPIC). The
 * codec entry (codec/vector.py) runs the scalar Python codec instead
 * when no compiler is present; the pytest suite runs both against the
 * reference-generated goldens.
 */

#include <stdint.h>
#include <stddef.h>

#define FIRST_DELTA_BITS 27
#define EMPTY_SENTINEL ((1u << 27) - 1)

/* ------------------------------------------------------------------ */
/* bit writer                                                          */
/* ------------------------------------------------------------------ */

typedef struct {
    uint64_t *words;
    int64_t pos;        /* flushed words */
    uint64_t cur;
    int bits_left;
} wbuf;

static inline void wflip(wbuf *w) {
    w->words[w->pos++] = w->cur;
    w->cur = 0;
    w->bits_left = 64;
}

static inline void wbits(wbuf *w, uint64_t value, int bits) {
    if (bits < 64) value &= (((uint64_t)1 << bits) - 1);
    if (bits <= w->bits_left) {
        w->cur |= value << (w->bits_left - bits);
        w->bits_left -= bits;
        if (w->bits_left == 0) wflip(w);
    } else {
        int hi = bits - w->bits_left;
        w->cur |= value >> hi;
        wflip(w);
        w->cur |= value << (64 - hi);
        w->bits_left = 64 - hi;
    }
}

/* ------------------------------------------------------------------ */
/* encoder                                                             */
/* ------------------------------------------------------------------ */

/* Encode S blocks.
 *   block_ts[S], offsets[S+1], ts[n], vals[n] (raw bit patterns)
 *   out_words: caller-allocated; capacity cap_words
 *   out_wc[S]: words per block
 * Returns total words written, or -1 if capacity exceeded.
 * Worst case per block: 3 + 2*len + 2 words. */
int64_t gs_encode_blocks(const int64_t *block_ts, const int64_t *offsets,
                         int64_t S, const int64_t *ts, const uint64_t *vals,
                         uint64_t *out_words, int64_t cap_words,
                         int64_t *out_wc)
{
    int64_t wpos = 0;
    for (int64_t s = 0; s < S; s++) {
        int64_t a = offsets[s], b = offsets[s + 1];
        int64_t len = b - a;
        /* capacity check: worst case 2 words/point + 5 */
        if (wpos + 2 * len + 6 > cap_words) return -1;
        wbuf w = { out_words + wpos, 0, 0, 64 };

        wbits(&w, (uint64_t)block_ts[s], 64);
        int32_t stored_delta = 0;
        int slz = 1 << 30, stz = 0;
        uint64_t prev_val = 0;
        if (len > 0) {
            stored_delta = (int32_t)((uint64_t)ts[a] - (uint64_t)block_ts[s]);
            wbits(&w, (uint32_t)stored_delta, FIRST_DELTA_BITS);
            wbits(&w, vals[a], 64);
            prev_val = vals[a];
        }
        for (int64_t i = a + 1; i < b; i++) {
            /* timestamp: delta-of-delta, int32 wrap semantics */
            int32_t new_delta = (int32_t)((uint64_t)ts[i] - (uint64_t)ts[i-1]);
            int32_t dd = (int32_t)((uint32_t)new_delta
                                   - (uint32_t)stored_delta);
            if (dd == 0) {
                wbits(&w, 0, 1);
            } else {
                uint32_t zz = (((uint32_t)dd << 1)
                               ^ (uint32_t)(dd >> 31)) - 1u;
                int nb = zz ? 32 - __builtin_clz(zz) : 0;
                if (nb >= 1 && nb <= 7)       wbits(&w, zz | 0x100u, 9);
                else if (nb <= 9 && nb >= 8)  wbits(&w, zz | 0xC00u, 12);
                else if (nb >= 10 && nb <= 12) wbits(&w, zz | 0xE000u, 16);
                else { /* nb==0 (dd==-1) or >=13: reference default path */
                    wbits(&w, 0xF, 4);
                    wbits(&w, zz, 32);
                }
                stored_delta = new_delta;
            }
            /* value: xor with last-value predictor */
            uint64_t x = prev_val ^ vals[i];
            prev_val = vals[i];
            if (x == 0) {
                wbits(&w, 0, 1);
            } else {
                int lz = __builtin_clzll(x);
                int tz = __builtin_ctzll(x);
                if (lz >= slz && tz >= stz) {
                    int sig = 64 - slz - stz;
                    wbits(&w, 2, 2);
                    wbits(&w, x >> stz, sig);
                } else {
                    int sig = 64 - lz - tz;
                    wbits(&w, ((uint64_t)3 << 12)
                              | ((uint64_t)lz << 6)
                              | (uint64_t)(sig - 1), 14);
                    wbits(&w, x >> tz, sig);
                    slz = lz; stz = tz;
                }
            }
        }
        /* close: '1111' + 0xFFFFFFFF + one 0 bit + flush */
        wbits(&w, 0xF, 4);
        wbits(&w, 0xFFFFFFFFu, 32);
        wbits(&w, 0, 1);
        wflip(&w);
        /* trailing snapshot word (empty current word after flush) */
        w.words[w.pos] = 0;
        out_wc[s] = w.pos + 1;
        wpos += out_wc[s];
    }
    return wpos;
}

/* ------------------------------------------------------------------ */
/* decoder                                                             */
/* ------------------------------------------------------------------ */

typedef struct {
    const uint64_t *words;
    int64_t nwords;
    int64_t wi;
    uint64_t cur;
    int bits_left;
    int over;           /* a read went past the block's last word */
} rbuf;

static inline uint64_t rbits(rbuf *r, int bits) {
    uint64_t v;
    if (bits <= r->bits_left) {
        v = (r->cur >> (r->bits_left - bits));
        if (bits < 64) v &= (((uint64_t)1 << bits) - 1);
        r->bits_left -= bits;
        if (r->bits_left == 0 && r->wi < r->nwords) {
            r->cur = r->words[r->wi++];
            r->bits_left = 64;
        }
    } else {
        int rem = bits - r->bits_left;
        v = r->cur & ((r->bits_left == 64) ? ~(uint64_t)0
                      : (((uint64_t)1 << r->bits_left) - 1));
        if (r->wi < r->nwords) {
            r->cur = r->words[r->wi++];
        } else {
            r->cur = 0;
            r->over = 1;
        }
        r->bits_left = 64;
        v = (v << rem) | (r->cur >> (64 - rem));
        r->bits_left -= rem;
    }
    return v;
}

/* Decode S blocks; out arrays sized cap points. out_offsets[S+1].
 * Returns total points, or -1 on capacity overflow, -2 on corrupt: a
 * read past the block's last word (checked once per point, so a
 * truncated block cannot decode as an endless run of zero bits) or a
 * value window wider than 64 bits. Every point after the first takes
 * at least 2 bits, so cap = 32 * total words always suffices. */
int64_t gs_decode_blocks(const uint64_t *words, const int64_t *wc,
                         int64_t S, int64_t *out_ts, uint64_t *out_vals,
                         int64_t *out_offsets, int64_t cap)
{
    int64_t total = 0;
    int64_t wbase = 0;
    out_offsets[0] = 0;
    for (int64_t s = 0; s < S; s++) {
        rbuf r = { words + wbase, wc[s], 1, 0, 64, 0 };
        if (wc[s] <= 0) return -2;
        r.cur = r.words[0];
        wbase += wc[s];

        int64_t block_ts = (int64_t)rbits(&r, 64);
        uint64_t first_delta = rbits(&r, FIRST_DELTA_BITS);
        if (r.over) return -2;
        if (first_delta == EMPTY_SENTINEL) {
            out_offsets[s + 1] = total;
            continue;
        }
        if (total >= cap) return -1;
        uint64_t val = rbits(&r, 64);
        int64_t cur_ts = block_ts + (int64_t)first_delta;
        int64_t delta = (int64_t)first_delta;
        out_ts[total] = cur_ts;
        out_vals[total] = val;
        total++;
        int slz = 1 << 20, stz = 0;
        for (;;) {
            /* timestamp control */
            if (rbits(&r, 1)) {
                uint32_t raw;
                if (!rbits(&r, 1))      raw = (uint32_t)rbits(&r, 7);
                else if (!rbits(&r, 1)) raw = (uint32_t)rbits(&r, 9);
                else if (!rbits(&r, 1)) raw = (uint32_t)rbits(&r, 12);
                else {
                    raw = (uint32_t)rbits(&r, 32);
                    if (raw == 0xFFFFFFFFu) break;
                }
                uint32_t zz = raw + 1u;
                int32_t dd = (int32_t)((zz >> 1) ^ (~(zz & 1u) + 1u));
                delta += dd;
            }
            cur_ts += delta;
            /* value control */
            if (rbits(&r, 1)) {
                int sig;
                if (rbits(&r, 1)) {
                    slz = (int)rbits(&r, 6);
                    sig = (int)rbits(&r, 6) + 1;
                    stz = 64 - sig - slz;
                } else {
                    sig = 64 - slz - stz;
                }
                /* slz + sig > 64, or a reuse before any window */
                if (stz < 0 || sig < 1) return -2;
                val ^= rbits(&r, sig) << stz;
            }
            if (r.over) return -2;
            if (total >= cap) return -1;
            out_ts[total] = cur_ts;
            out_vals[total] = val;
            total++;
        }
        out_offsets[s + 1] = total;
    }
    return total;
}

/* ------------------------------------------------------------------ */
/* DFCM predictor variants                                             */
/* ------------------------------------------------------------------ */

/* Differential finite-context-method predictor, format parity with
 * codec/predictors.py DifferentialFCM (itself re-expressing the
 * reference's DifferentialFCM.java:23-46 semantics): hash chain
 * h = ((h << 5) ^ ((int64)(v - last) >> 50)) & mask with an
 * ARITHMETIC shift on the signed delta. The encoder updates the
 * predictor on every value (including xor==0 repeats); the decoder
 * does NOT update on repeats — the reference's encode/decode update
 * asymmetry (ValueCompressor.java:34-35 vs ValueDecompressor.java:53)
 * is mirrored, never fixed. table_n must be a power of two; the
 * caller provides the scratch table (zeroed here per block). */

typedef struct {
    uint64_t *table;
    uint64_t mask;
    uint64_t last;
    uint64_t hash;
} dfcm;

static inline void dfcm_reset(dfcm *p, uint64_t *table, int64_t n) {
    for (int64_t j = 0; j < n; j++) table[j] = 0;
    p->table = table; p->mask = (uint64_t)(n - 1);
    p->last = 0; p->hash = 0;
}

static inline void dfcm_update(dfcm *p, uint64_t v) {
    uint64_t delta = v - p->last;
    p->table[p->hash] = delta;
    p->hash = ((p->hash << 5) ^ (uint64_t)((int64_t)delta >> 50))
              & p->mask;
    p->last = v;
}

static inline uint64_t dfcm_predict(const dfcm *p) {
    return p->table[p->hash] + p->last;
}

/* Same contract as gs_encode_blocks, value stream predicted by DFCM.
 * The timestamp stream is identical to the last-value variant. */
int64_t gs_encode_blocks_dfcm(const int64_t *block_ts,
                              const int64_t *offsets, int64_t S,
                              const int64_t *ts, const uint64_t *vals,
                              uint64_t *out_words, int64_t cap_words,
                              int64_t *out_wc,
                              uint64_t *table, int64_t table_n)
{
    int64_t wpos = 0;
    dfcm p;
    for (int64_t s = 0; s < S; s++) {
        int64_t a = offsets[s], b = offsets[s + 1];
        int64_t len = b - a;
        if (wpos + 2 * len + 6 > cap_words) return -1;
        wbuf w = { out_words + wpos, 0, 0, 64 };
        dfcm_reset(&p, table, table_n);

        wbits(&w, (uint64_t)block_ts[s], 64);
        int32_t stored_delta = 0;
        int slz = 1 << 30, stz = 0;
        if (len > 0) {
            stored_delta = (int32_t)((uint64_t)ts[a] - (uint64_t)block_ts[s]);
            wbits(&w, (uint32_t)stored_delta, FIRST_DELTA_BITS);
            dfcm_update(&p, vals[a]);
            wbits(&w, vals[a], 64);
        }
        for (int64_t i = a + 1; i < b; i++) {
            int32_t new_delta = (int32_t)((uint64_t)ts[i] - (uint64_t)ts[i-1]);
            int32_t dd = (int32_t)((uint32_t)new_delta
                                   - (uint32_t)stored_delta);
            if (dd == 0) {
                wbits(&w, 0, 1);
            } else {
                uint32_t zz = (((uint32_t)dd << 1)
                               ^ (uint32_t)(dd >> 31)) - 1u;
                int nb = zz ? 32 - __builtin_clz(zz) : 0;
                if (nb >= 1 && nb <= 7)       wbits(&w, zz | 0x100u, 9);
                else if (nb <= 9 && nb >= 8)  wbits(&w, zz | 0xC00u, 12);
                else if (nb >= 10 && nb <= 12) wbits(&w, zz | 0xE000u, 16);
                else {
                    wbits(&w, 0xF, 4);
                    wbits(&w, zz, 32);
                }
                stored_delta = new_delta;
            }
            uint64_t x = dfcm_predict(&p) ^ vals[i];
            dfcm_update(&p, vals[i]);   /* encoder updates on repeats too */
            if (x == 0) {
                wbits(&w, 0, 1);
            } else {
                int lz = __builtin_clzll(x);
                int tz = __builtin_ctzll(x);
                if (lz >= slz && tz >= stz) {
                    int sig = 64 - slz - stz;
                    wbits(&w, 2, 2);
                    wbits(&w, x >> stz, sig);
                } else {
                    int sig = 64 - lz - tz;
                    wbits(&w, ((uint64_t)3 << 12)
                              | ((uint64_t)lz << 6)
                              | (uint64_t)(sig - 1), 14);
                    wbits(&w, x >> tz, sig);
                    slz = lz; stz = tz;
                }
            }
        }
        wbits(&w, 0xF, 4);
        wbits(&w, 0xFFFFFFFFu, 32);
        wbits(&w, 0, 1);
        wflip(&w);
        w.words[w.pos] = 0;
        out_wc[s] = w.pos + 1;
        wpos += out_wc[s];
    }
    return wpos;
}

/* Same contract as gs_decode_blocks, value stream predicted by DFCM
 * (decoder asymmetry: no update on the repeat control bit). */
int64_t gs_decode_blocks_dfcm(const uint64_t *words, const int64_t *wc,
                              int64_t S, int64_t *out_ts,
                              uint64_t *out_vals, int64_t *out_offsets,
                              int64_t cap,
                              uint64_t *table, int64_t table_n)
{
    int64_t total = 0;
    int64_t wbase = 0;
    dfcm p;
    out_offsets[0] = 0;
    for (int64_t s = 0; s < S; s++) {
        rbuf r = { words + wbase, wc[s], 1, 0, 64, 0 };
        if (wc[s] <= 0) return -2;
        r.cur = r.words[0];
        wbase += wc[s];
        dfcm_reset(&p, table, table_n);

        int64_t block_ts = (int64_t)rbits(&r, 64);
        uint64_t first_delta = rbits(&r, FIRST_DELTA_BITS);
        if (r.over) return -2;
        if (first_delta == EMPTY_SENTINEL) {
            out_offsets[s + 1] = total;
            continue;
        }
        if (total >= cap) return -1;
        uint64_t val = rbits(&r, 64);
        dfcm_update(&p, val);
        int64_t cur_ts = block_ts + (int64_t)first_delta;
        int64_t delta = (int64_t)first_delta;
        out_ts[total] = cur_ts;
        out_vals[total] = val;
        total++;
        int slz = 1 << 20, stz = 0;
        for (;;) {
            if (rbits(&r, 1)) {
                uint32_t raw;
                if (!rbits(&r, 1))      raw = (uint32_t)rbits(&r, 7);
                else if (!rbits(&r, 1)) raw = (uint32_t)rbits(&r, 9);
                else if (!rbits(&r, 1)) raw = (uint32_t)rbits(&r, 12);
                else {
                    raw = (uint32_t)rbits(&r, 32);
                    if (raw == 0xFFFFFFFFu) break;
                }
                uint32_t zz = raw + 1u;
                int32_t dd = (int32_t)((zz >> 1) ^ (~(zz & 1u) + 1u));
                delta += dd;
            }
            cur_ts += delta;
            if (rbits(&r, 1)) {
                int sig;
                if (rbits(&r, 1)) {
                    slz = (int)rbits(&r, 6);
                    sig = (int)rbits(&r, 6) + 1;
                    stz = 64 - sig - slz;
                } else {
                    sig = 64 - slz - stz;
                }
                /* slz + sig > 64, or a reuse before any window */
                if (stz < 0 || sig < 1) return -2;
                val = dfcm_predict(&p) ^ (rbits(&r, sig) << stz);
                dfcm_update(&p, val);
            } else {
                val = dfcm_predict(&p);   /* repeat: NO update */
            }
            if (r.over) return -2;
            if (total >= cap) return -1;
            out_ts[total] = cur_ts;
            out_vals[total] = val;
            total++;
        }
        out_offsets[s + 1] = total;
    }
    return total;
}

/* FLAC rice-partition decode (media_codecs.py): MSB-first bitstream,
 * cnt codes of parameter k starting at start_bit; zigzag-decoded
 * residuals into out. Returns the end bit position, or -1 on
 * truncation. Entropy decode is inherently bit-serial; this keeps the
 * per-bit cost at C speed (the numpy set-bit walk is the fallback). */
long long gs_rice_decode(const unsigned char *d, long long nbytes,
                         long long start_bit, long long cnt, int k,
                         long long *out) {
    long long bit = start_bit, nbits = nbytes * 8;
    for (long long i = 0; i < cnt; i++) {
        long long q = 0;
        for (;;) {
            if (bit >= nbits) return -1;
            int b = (d[bit >> 3] >> (7 - (bit & 7))) & 1;
            bit++;
            if (b) break;
            q++;
        }
        unsigned long long u = (unsigned long long)q << k;
        for (int j = k - 1; j >= 0; j--) {
            if (bit >= nbits) return -1;
            u |= (unsigned long long)((d[bit >> 3] >> (7 - (bit & 7))) & 1)
                 << j;
            bit++;
        }
        out[i] = (long long)(u >> 1) ^ -(long long)(u & 1);
    }
    return bit;
}

/* PNG row unfilter (media_codecs.py, spec 9): raw = h rows of
 * (1 filter byte + w*c filtered bytes); out receives h*w*c
 * reconstructed bytes. The Sub/Average/Paeth x-recurrence is
 * inherently sequential per row, so it belongs here: one C pass over
 * byte lanes instead of an O(h*w) Python loop of length-c numpy
 * micro-ops (libpng favors Paeth, so real images hit filter 4 on
 * nearly every row). Returns 0, or -1 on an invalid filter type. */
int gs_png_unfilter(const unsigned char *raw, long long h, long long w,
                    int c, unsigned char *out) {
    long long stride = 1 + w * c, rw = w * c;
    for (long long y = 0; y < h; y++) {
        const unsigned char *src = raw + y * stride + 1;
        unsigned char *dst = out + y * rw;
        const unsigned char *up = y ? dst - rw : 0;
        switch (raw[y * stride]) {
        case 0:                                   /* None */
            for (long long i = 0; i < rw; i++) dst[i] = src[i];
            break;
        case 1:                                   /* Sub */
            for (long long i = 0; i < rw; i++) {
                int left = i >= c ? dst[i - c] : 0;
                dst[i] = (unsigned char)(src[i] + left);
            }
            break;
        case 2:                                   /* Up */
            for (long long i = 0; i < rw; i++)
                dst[i] = (unsigned char)(src[i] + (up ? up[i] : 0));
            break;
        case 3:                                   /* Average */
            for (long long i = 0; i < rw; i++) {
                int left = i >= c ? dst[i - c] : 0;
                int u = up ? up[i] : 0;
                dst[i] = (unsigned char)(src[i] + ((left + u) >> 1));
            }
            break;
        case 4:                                   /* Paeth */
            for (long long i = 0; i < rw; i++) {
                int a = i >= c ? dst[i - c] : 0;
                int b = up ? up[i] : 0;
                int d = (up && i >= c) ? up[i - c] : 0;
                int p = a + b - d;
                int pa = p > a ? p - a : a - p;
                int pb = p > b ? p - b : b - p;
                int pc = p > d ? p - d : d - p;
                dst[i] = (unsigned char)(src[i] +
                    ((pa <= pb && pa <= pc) ? a : (pb <= pc ? b : d)));
            }
            break;
        default:
            return -1;
        }
    }
    return 0;
}

/* Baseline-JPEG entropy decode (media_codecs.py jpeg_decode): the
 * per-MCU huffman bit-walk, the branch-heavy serial loop that
 * dominated Python decode time. Mirrors the Python _BitReader
 * semantics exactly: 0xFF00 unstuffing, RSTn clears the bit
 * accumulator, EOI/markers/truncation pad with 1-bits and set a
 * padding flag that makes a missed restart marker a hard error
 * instead of a spin.
 *
 * Huffman tables arrive as canonical mincode/maxcode/valptr arrays
 * (8 slots x 17 lengths; slot = is_ac*4 + table_id; maxcode=-1 marks
 * an empty length) over one concatenated symbol array. Per MCU-unit
 * arrays give the component, block offset geometry and table slots.
 * Output: zig-zag coefficient blocks (int32[total_blocks*64], caller
 * zeroed). Returns 0, or -2 invalid huffman code, -3 AC run
 * overflow, -4 missing restart marker, -5 implausible DC size. */
typedef struct {
    const unsigned char *d;
    long long n, pos;
    unsigned long long acc;
    int bits, restart_hit, padding;
} gsjbr;

static void gsj_fill(gsjbr *r) {
    if (r->pos < r->n && r->d[r->pos] == 0xFF) {
        int nxt = r->pos + 1 < r->n ? r->d[r->pos + 1] : 0xD9;
        if (nxt == 0x00) {
            r->pos += 2;
        } else if (nxt >= 0xD0 && nxt <= 0xD7) {
            r->pos += 2;
            r->acc = 0;
            r->bits = 0;
            r->restart_hit = 1;
            return;
        } else {
            r->padding = 1;
        }
        r->acc = (r->acc << 8) | 0xFF;
    } else if (r->pos < r->n) {
        r->acc = (r->acc << 8) | r->d[r->pos++];
    } else {
        r->padding = 1;
        r->acc = (r->acc << 8) | 0xFF;
    }
    r->bits += 8;
}

static long long gsj_bits(gsjbr *r, int nb) {
    while (r->bits < nb) gsj_fill(r);
    long long v = (long long)((r->acc >> (r->bits - nb))
                              & ((nb ? (1ULL << nb) : 1ULL) - 1));
    r->bits -= nb;
    r->acc &= (r->bits ? (1ULL << r->bits) : 1ULL) - 1;
    return v;
}

static int gsj_huff(gsjbr *r, int slot, const int *mincode,
                    const int *maxcode, const int *valptr,
                    const unsigned char *vals) {
    int code = 0;
    for (int len = 1; len <= 16; len++) {
        code = (code << 1) | (int)gsj_bits(r, 1);
        int mc = maxcode[slot * 17 + len];
        int mn = mincode[slot * 17 + len];
        if (mc >= 0 && code >= mn && code <= mc)
            return vals[valptr[slot * 17 + len] + code - mn];
    }
    return -1;
}

static long long gsj_extend(long long v, int s) {
    if (s == 0) return 0;
    return v >= (1LL << (s - 1)) ? v : v - (1LL << s) + 1;
}

int gs_jpeg_scan(const unsigned char *d, long long nbytes,
                 long long start, int mcux, int mcuy, int dri,
                 int n_comps, int n_units,
                 const int *unit_comp, const int *unit_v,
                 const int *unit_u, const int *unit_dc,
                 const int *unit_ac,
                 const long long *comp_base, const int *comp_rowstride,
                 const int *comp_sh, const int *comp_sv,
                 const int *mincode, const int *maxcode,
                 const int *valptr, const unsigned char *vals,
                 int *out) {
    gsjbr r = {d, nbytes, start, 0, 0, 0, 0};
    long long dc_prev[16] = {0};
    long long mcu_i = 0;
    for (long long my = 0; my < mcuy; my++)
    for (long long mx = 0; mx < mcux; mx++) {
        if (dri && mcu_i && mcu_i % dri == 0) {
            while (!r.restart_hit) {
                if (r.padding) return -4;
                if (r.bits) gsj_bits(&r, 1); else gsj_fill(&r);
            }
            r.restart_hit = 0;
            for (int c = 0; c < n_comps; c++) dc_prev[c] = 0;
        }
        mcu_i++;
        for (int j = 0; j < n_units; j++) {
            int ci = unit_comp[j];
            long long bi = comp_base[ci]
                + (my * comp_sv[ci] + unit_v[j])
                  * (long long)comp_rowstride[ci]
                + mx * comp_sh[ci] + unit_u[j];
            int *blk = out + bi * 64;
            int s = gsj_huff(&r, unit_dc[j], mincode, maxcode,
                             valptr, vals);
            if (s < 0) return -2;
            if (s > 15) return -5;
            dc_prev[ci] += gsj_extend(gsj_bits(&r, s), s);
            blk[0] = (int)dc_prev[ci];
            int k = 1;
            while (k < 64) {
                int rs = gsj_huff(&r, unit_ac[j], mincode, maxcode,
                                  valptr, vals);
                if (rs < 0) return -2;
                int run = rs >> 4, size = rs & 15;
                if (size == 0) {
                    if (run == 15) { k += 16; continue; }
                    break;                          /* EOB */
                }
                k += run;
                if (k > 63) return -3;
                blk[k] = (int)gsj_extend(gsj_bits(&r, size), size);
                k++;
            }
        }
    }
    return 0;
}

/* FLAC frame CRCs (media_codecs.py): CRC-8 poly 0x07 and CRC-16 poly
 * 0x8005, both init 0, MSB-first — verified per frame over the whole
 * frame's bytes, which made the former per-bit Python loop the FLAC
 * decode hot spot. mode 0 = CRC-8, 1 = CRC-16. */
int gs_flac_crc(const unsigned char *d, long long n, int mode) {
    if (mode == 0) {
        unsigned c = 0;
        for (long long i = 0; i < n; i++) {
            c ^= d[i];
            for (int j = 0; j < 8; j++)
                c = (c & 0x80) ? ((c << 1) ^ 0x07) & 0xFF
                               : (c << 1) & 0xFF;
        }
        return (int)c;
    }
    unsigned c = 0;
    for (long long i = 0; i < n; i++) {
        c ^= (unsigned)d[i] << 8;
        for (int j = 0; j < 8; j++)
            c = (c & 0x8000) ? ((c << 1) ^ 0x8005) & 0xFFFF
                             : (c << 1) & 0xFFFF;
    }
    return (int)c;
}

"""Non-autoregressive Transformer density model, in NumPy.

Reference semantics (NOT code): scardina/models.py:435-475 — per-column
token embeddings (MASK at index 0), blocks of LayerNorm → multi-head
self-attention → LayerNorm → MLP with residuals, NO causal mask (the model
is non-autoregressive: any subset of columns conditions any other), tied
embedding decode.  Column identity is a learned per-column position
embedding added to the value embedding.

Hand-written forward/backward (no autograd available).  Sequence length =
number of columns (4-16), so attention is tiny; batch matmuls dominate and
NumPy handles them fine at d_word ≤ 32.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .nar import AdamFit, TrainConfig, _softmax


@dataclass
class TrmConfig(TrainConfig):
    n_blocks: int = 1
    n_heads: int = 2


def _ln_forward(x, g, b, eps=1e-5):
    mu = x.mean(axis=-1, keepdims=True)
    var = x.var(axis=-1, keepdims=True)
    xhat = (x - mu) / np.sqrt(var + eps)
    return xhat * g + b, (xhat, var, g, eps)


def _ln_backward(dy, cache):
    xhat, var, g, eps = cache
    N = xhat.shape[-1]
    dg = (dy * xhat).sum(axis=tuple(range(dy.ndim - 1)))
    db = dy.sum(axis=tuple(range(dy.ndim - 1)))
    dxhat = dy * g
    inv = 1.0 / np.sqrt(var + eps)
    dx = inv * (dxhat - dxhat.mean(axis=-1, keepdims=True)
                - xhat * (dxhat * xhat).mean(axis=-1, keepdims=True))
    return dx, dg, db


@dataclass
class NarTransformer(AdamFit):
    input_bins: list[tuple[str, int]]
    cfg: TrmConfig = field(default_factory=TrmConfig)

    def __post_init__(self):
        rs = np.random.RandomState(self.cfg.seed)
        d = self.cfg.d_word
        self.cols = [c for c, _ in self.input_bins]
        self.doms = [n for _, n in self.input_bins]
        self.C = len(self.cols)
        H = self.cfg.n_heads
        assert d % H == 0, "d_word must divide n_heads"
        self.emb = [rs.randn(n, d) * 0.1 for n in self.doms]
        self.pos = rs.randn(self.C, d) * 0.1
        self.blocks = []
        for _ in range(self.cfg.n_blocks):
            blk = {
                "ln1_g": np.ones(d), "ln1_b": np.zeros(d),
                "Wq": rs.randn(d, d) * np.sqrt(1.0 / d),
                "Wk": rs.randn(d, d) * np.sqrt(1.0 / d),
                "Wv": rs.randn(d, d) * np.sqrt(1.0 / d),
                "Wo": rs.randn(d, d) * np.sqrt(1.0 / d),
                "ln2_g": np.ones(d), "ln2_b": np.zeros(d),
                "W1": rs.randn(d, self.cfg.d_ff) * np.sqrt(2.0 / d),
                "b1": np.zeros(self.cfg.d_ff),
                "W2": rs.randn(self.cfg.d_ff, d) * np.sqrt(2.0 / self.cfg.d_ff),
                "b2": np.zeros(d),
            }
            self.blocks.append(blk)
        self.lnf_g, self.lnf_b = np.ones(d), np.zeros(d)
        self._adam_state: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._adam_t = 0

    # -- forward ----------------------------------------------------------

    def _tokens(self, codes, mask):
        eff = np.where(mask, 0, codes)
        B = codes.shape[0]
        d = self.cfg.d_word
        x = np.empty((B, self.C, d))
        for j in range(self.C):
            x[:, j] = self.emb[j][eff[:, j]]
        return x + self.pos[None, :, :], eff

    def _attn_forward(self, x, blk):
        B, C, d = x.shape
        H = self.cfg.n_heads
        dk = d // H
        q = (x @ blk["Wq"]).reshape(B, C, H, dk).transpose(0, 2, 1, 3)
        k = (x @ blk["Wk"]).reshape(B, C, H, dk).transpose(0, 2, 1, 3)
        v = (x @ blk["Wv"]).reshape(B, C, H, dk).transpose(0, 2, 1, 3)
        scores = q @ k.transpose(0, 1, 3, 2) / np.sqrt(dk)
        A = _softmax(scores)
        o = (A @ v).transpose(0, 2, 1, 3).reshape(B, C, d)
        out = o @ blk["Wo"]
        return out, (x, q, k, v, A, o)

    def _attn_backward(self, dout, blk, cache):
        x, q, k, v, A, o = cache
        B, C, d = x.shape
        H = self.cfg.n_heads
        dk = d // H
        gWo = o.reshape(-1, d).T @ dout.reshape(-1, d)
        do = (dout @ blk["Wo"].T).reshape(B, C, H, dk).transpose(0, 2, 1, 3)
        dA = do @ v.transpose(0, 1, 3, 2)
        dv = A.transpose(0, 1, 3, 2) @ do
        # softmax backward
        ds = A * (dA - (dA * A).sum(axis=-1, keepdims=True))
        ds /= np.sqrt(dk)
        dq = ds @ k
        dk_ = ds.transpose(0, 1, 3, 2) @ q
        def back(dz):  # [B,H,C,dk] -> [B,C,d]
            return dz.transpose(0, 2, 1, 3).reshape(B, C, d)
        gWq = x.reshape(-1, d).T @ back(dq).reshape(-1, d)
        gWk = x.reshape(-1, d).T @ back(dk_).reshape(-1, d)
        gWv = x.reshape(-1, d).T @ back(dv).reshape(-1, d)
        dx = (back(dq) @ blk["Wq"].T + back(dk_) @ blk["Wk"].T
              + back(dv) @ blk["Wv"].T)
        return dx, {"Wq": gWq, "Wk": gWk, "Wv": gWv, "Wo": gWo}

    def _forward(self, codes, mask, want_cache=False):
        x, eff = self._tokens(codes, mask)
        caches = []
        for blk in self.blocks:
            h1, c_ln1 = _ln_forward(x, blk["ln1_g"], blk["ln1_b"])
            a, c_att = self._attn_forward(h1, blk)
            x1 = x + a
            h2, c_ln2 = _ln_forward(x1, blk["ln2_g"], blk["ln2_b"])
            z = h2 @ blk["W1"] + blk["b1"]
            r = np.maximum(z, 0.0)
            f = r @ blk["W2"] + blk["b2"]
            x2 = x1 + f
            caches.append((c_ln1, c_att, c_ln2, h2, z, r, x, x1))
            x = x2
        hf, c_lnf = _ln_forward(x, self.lnf_g, self.lnf_b)
        if want_cache:
            return hf, (eff, caches, c_lnf)
        return hf

    def logits_for(self, codes, mask, j):
        hf = self._forward(codes, mask)
        return hf[:, j] @ self.emb[j].T

    # -- training ---------------------------------------------------------

    def train_step(self, codes, rs):
        B = codes.shape[0]
        d = self.cfg.d_word
        n_mask = rs.randint(1, self.C) if self.C > 1 else 1
        mask = np.zeros((B, self.C), dtype=bool)
        for i in range(B):
            mask[i, rs.choice(self.C, size=n_mask, replace=False)] = True

        hf, (eff, caches, c_lnf) = self._forward(codes, mask, want_cache=True)
        denom = n_mask * B
        dhf = np.zeros_like(hf)
        gE_dec = [np.zeros_like(e) for e in self.emb]
        loss = 0.0
        for j in range(self.C):
            rows = np.where(mask[:, j])[0]
            if rows.size == 0:
                continue
            logits = hf[rows, j] @ self.emb[j].T
            logits[:, 0] = -1e9
            p = _softmax(logits)
            y = codes[rows, j]
            loss += -np.log(np.maximum(p[np.arange(rows.size), y], 1e-12)).sum()
            dl = p.copy()
            dl[np.arange(rows.size), y] -= 1.0
            dl /= denom
            dhf[rows, j] += dl @ self.emb[j]
            gE_dec[j] += dl.T @ hf[rows, j]

        dx, g_lnf_g, g_lnf_b = _ln_backward(dhf, c_lnf)
        grads_blocks = []
        for blk, cache in zip(reversed(self.blocks), reversed(caches)):
            c_ln1, c_att, c_ln2, h2, z, r, x_in, x1 = cache
            # x2 = x1 + f
            df = dx
            gW2 = r.reshape(-1, r.shape[-1]).T @ df.reshape(-1, d)
            gb2 = df.sum(axis=(0, 1))
            dr = df @ blk["W2"].T
            dz = dr * (z > 0)
            gW1 = h2.reshape(-1, d).T @ dz.reshape(-1, dz.shape[-1])
            gb1 = dz.sum(axis=(0, 1))
            dh2 = dz @ blk["W1"].T
            dx1_from_ff, g_ln2_g, g_ln2_b = _ln_backward(dh2, c_ln2)
            dx1 = dx + dx1_from_ff
            # x1 = x + a
            da = dx1
            dh1, g_att = self._attn_backward(da, blk, c_att)
            dx_from_attn, g_ln1_g, g_ln1_b = _ln_backward(dh1, c_ln1)
            dx = dx1 + dx_from_attn
            grads_blocks.append({
                "ln1_g": g_ln1_g, "ln1_b": g_ln1_b, **g_att,
                "ln2_g": g_ln2_g, "ln2_b": g_ln2_b,
                "W1": gW1, "b1": gb1, "W2": gW2, "b2": gb2,
            })
        grads_blocks.reverse()

        # token grads: dx [B, C, d] -> pos + embeddings
        g_pos = dx.sum(axis=0)
        self._adam_t += 1
        pid = 0
        for bi, blk in enumerate(self.blocks):
            for key in ("ln1_g", "ln1_b", "Wq", "Wk", "Wv", "Wo",
                        "ln2_g", "ln2_b", "W1", "b1", "W2", "b2"):
                self._adam(pid, blk[key], grads_blocks[bi][key])
                pid += 1
        self._adam(pid, self.lnf_g, g_lnf_g); pid += 1
        self._adam(pid, self.lnf_b, g_lnf_b); pid += 1
        self._adam(pid, self.pos, g_pos); pid += 1
        for j in range(self.C):
            gE = gE_dec[j]
            np.add.at(gE, eff[:, j], dx[:, j])
            self._adam(pid, self.emb[j], gE)
            pid += 1

        return loss / denom

    # -- persistence ------------------------------------------------------

    def save(self, path: str) -> None:
        arrs = {"pos": self.pos, "lnf_g": self.lnf_g, "lnf_b": self.lnf_b}
        for j, e in enumerate(self.emb):
            arrs[f"emb_{j}"] = e
        for i, blk in enumerate(self.blocks):
            for k, v in blk.items():
                arrs[f"blk{i}_{k}"] = v
        np.savez_compressed(
            path, cols="|".join(self.cols), doms=np.array(self.doms),
            d_word=self.cfg.d_word, d_ff=self.cfg.d_ff,
            n_blocks=self.cfg.n_blocks, n_heads=self.cfg.n_heads, **arrs)

    @classmethod
    def load(cls, path: str) -> "NarTransformer":
        z = np.load(path, allow_pickle=False)
        cols = str(z["cols"]).split("|")
        doms = [int(x) for x in z["doms"]]
        cfg = TrmConfig(d_word=int(z["d_word"]), d_ff=int(z["d_ff"]),
                        n_blocks=int(z["n_blocks"]),
                        n_heads=int(z["n_heads"]))
        m = cls(list(zip(cols, doms)), cfg)
        m.emb = [z[f"emb_{j}"] for j in range(len(cols))]
        m.pos = z["pos"]
        m.lnf_g, m.lnf_b = z["lnf_g"], z["lnf_b"]
        for i, blk in enumerate(m.blocks):
            for k in blk:
                blk[k] = z[f"blk{i}_{k}"]
        return m

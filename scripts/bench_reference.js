#!/usr/bin/env node
// Single-thread add-throughput of the reference library (node v20), for the
// "matches-or-beats reference single-node throughput" comparison against the
// Scala per-sketch add costs (perfbench `--trace 1`, `core.*.add_ns`).
'use strict';
const path = require('path');
const ref = '/root/reference/src';
const Bloom = require(path.join(ref, 'bloom.js'));
const CountMin = require(path.join(ref, 'count-min.js'));
const NGram = require(path.join(ref, 'ngram.js'));
const StreamSummary = require(path.join(ref, 'stream-summary.js'));
const TDigest = require(path.join(ref, 't-digest.js'));

const N = 4000000;
const keys = Array.from({length: 1024}, (_, i) => 'conv-' + String(i).padStart(8, '0'));
const tools = Array.from({length: 50}, (_, i) => 'tool_' + String(i).padStart(2, '0'));

function time(name, f) {
  for (let i = 0; i < N / 4; ++i) f(i); // warmup
  const t0 = process.hrtime.bigint();
  for (let i = 0; i < N; ++i) f(i);
  const ns = Number(process.hrtime.bigint() - t0) / N;
  console.log(`${name.padEnd(14)} ${ns.toFixed(1)} ns/add  (${(1e9 / ns / 1e6).toFixed(2)} M adds/s)`);
}

const bf = new Bloom(); // default 8M bits / 5 hashes
time('bloom', i => bf.add(keys[i & 1023]));
const cm = new CountMin(); // default 27191x9
time('cms', i => cm.add(tools[i % 50]));
const ss = new StreamSummary(100);
time('topk', i => ss.add(tools[i % 50]));
const td = new TDigest(100);
time('tdigest', i => td.add((i % 1000) * 0.5));
const ng = new NGram(2);
time('ngram(12ch)', i => ng.add(keys[i & 1023]));

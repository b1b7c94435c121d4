package graft.functions

import java.util.Locale

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** `langid(text)` — mixed-order character n-gram language identification
  * against a FIXED, in-repo model (the CCNet/C4 stage that runs
  * immediately after HTML text extraction: every per-language pipeline
  * stage keys on a `lang` column that raw crawl data does not carry).
  *
  * Model: per-language log-probabilities over char n-grams of orders
  * 1, 2 AND 3 pooled into one feature space (the fastText recipe:
  * trigrams discriminate segmented scripts, unigrams/bigrams carry
  * unsegmented CJK, where a held-out sentence can share zero TRIGRAMS
  * with hundreds of seed characters — measured in earlier rounds), with
  * add-one (Laplace) smoothing over the GLOBAL gram vocabulary of the
  * seed corpus, trained at class-init from [[LangIdModel.seeds]] — a
  * deterministic, versioned artifact of this repo, so the same text
  * classifies the same way on every cluster and every run (and the
  * DuckDB oracle can re-derive the identical model from the identical
  * seed literals in SQL).
  *
  * Scoring: lowercase, slide 1/2/3-CODEPOINT windows (codepoints, not
  * UTF-16 units — supplementary-plane chars like emoji must not split
  * into surrogate garbage, and the DuckDB mirror's substr() is
  * codepoint-based), sum `logp(gram | lang)` per language
  * (out-of-vocabulary grams cost the language's smoothed OOV mass
  * `ln(1/(total+V))`), argmax with deterministic ties (language name
  * ascending). Returns `struct<lang, avg_lp, margin, oov_gap, n_tri>`:
  *
  *  - `lang`     — argmax language code, or "und" when the text has no
  *                 trigram (< 3 codepoints: too short to call);
  *  - `avg_lp`   — best per-GRAM average log-probability (all orders);
  *  - `margin`   — best minus second-best average: classification
  *                 confidence (mixed-language text compresses it);
  *  - `oov_gap`  — `avg_lp` minus the argmax language's own smoothed OOV
  *                 rate: the SELF-CALIBRATING "is this even a language we
  *                 know" signal. Text sharing (almost) no gram with any
  *                 seed scores every language at (almost) exactly its
  *                 OOV rate, so the gap sits near 0 — an unseen script's
  *                 only known grams are the spaces/digits it shares with
  *                 every seed; genuine text in a model language sits far
  *                 above. Unlike an absolute avg floor, the gap needs no
  *                 re-tuning when languages with different gram coverage
  *                 join the model;
  *  - `n_tri`    — trigram count (evidence size; short strings are noisy).
  *
  * Model scope: Latin (en/de/fr/es/it/pt + tr, whose dotless-ı/ş/ğ
  * grams discriminate it inside the shared script) + Cyrillic + CJK
  * (zh/ja/ko) + Arabic-script (ar/fa — same script, function-word
  * grams discriminate) + Greek + Devanagari (hi) + Thai + Hebrew +
  * Bengali + Tamil + Telugu — twenty languages covering the
  * top-volume crawl scripts. Unseen scripts (Georgian, Armenian, …)
  * fall back to "und" via the gap rule.
  *
  * Threshold policy (what counts as "unknown") deliberately lives in the
  * OPERATOR ([[graft.operators.LangId.classify]]), not here — the raw
  * scores are the reusable primitive.
  *
  * Execution: one codegen'd map-side kernel call per row — zero shuffle at
  * any corpus size; the model is a static JVM-singleton (a few thousand
  * grams per language), never a broadcast or a join.
  */
object LangIdModel {

  /** The fixed training corpus: (language, seed text) — lowercase,
    * apostrophe-free, BMP-only by construction (the texts embed verbatim
    * into oracle SQL literals; gram extraction is codepoint-based either
    * way). zh/ja/ko are parallel renderings of the same story themes as
    * the European seeds, in this repo's own words. Editing a seed
    * changes the model version: every classification downstream is
    * derived from these strings alone.
    */
  val seeds: Seq[(String, String)] = Seq(
    "de" -> ("der schnelle braune fuchs springt über den faulen hund während die kinder vom fenster aus zuschauen. " +
      "dies ist eine kurze geschichte über das wetter und die menschen die in der alten stadt am fluss wohnen. " +
      "wir sollten immer daran denken dass wissen und freiheit in jedem freien land zusammengehören. " +
      "die schüler lesen ihre bücher in der bibliothek und sprechen jeden nachmittag über geschichte und wissenschaft. " +
      "es gab eine zeit in der die welt viel größer erschien und jede reise viele wochen dauerte. " +
      "man sagt dass der frühe vogel den wurm fängt aber die zweite maus bekommt den käse. " +
      "gute freunde helfen einander durch schwere zeiten und teilen die guten zeiten miteinander. " +
      "die regierung kündigte einen neuen plan für schulen und krankenhäuser im ganzen land an. " +
      "am morgen trinkt sie eine tasse kaffee und isst brot mit butter und honig. " +
      "der zug verlässt den bahnhof um sieben und erreicht die stadt zwei stunden später. " +
      "mein bruder spielt klavier und meine schwester singt am abend alte lieder. " +
      "der markt verkauft frisches obst und gemüse von den höfen nahe den bergen. " +
      "es regnete die ganze nacht aber am späten morgen kam die sonne wieder heraus. " +
      "der brief kam am montag an und die antwort wurde in derselben woche geschrieben. " +
      "jedes jahr reist die familie ans meer und verbringt den sommer am wasser."),
    "en" -> ("the quick brown fox jumps over the lazy dog while the children watch from the window. " +
      "this is a short story about the weather and the people who live in the old town by the river. " +
      "we should always remember that knowledge and freedom belong together in every free country. " +
      "the students read their books in the library and talk about history and science every afternoon. " +
      "there was a time when the world seemed much larger and every journey took many weeks. " +
      "people say that the early bird catches the worm but the second mouse gets the cheese. " +
      "good friends help each other through the hard times and share the good times together. " +
      "the government announced a new plan for schools and hospitals across the whole country. " +
      "in the morning she drinks a cup of coffee and eats bread with butter and honey. " +
      "the train leaves the station at seven and arrives in the city two hours later. " +
      "my brother plays the piano and my sister sings old songs in the evening. " +
      "the market sells fresh fruit and vegetables from the farms near the mountains. " +
      "it rained all night but the sun came out again in the late morning. " +
      "the letter arrived on monday and the answer was written the same week. " +
      "every year the family travels to the sea and spends the summer near the water."),
    "es" -> ("el rápido zorro marrón salta sobre el perro perezoso mientras los niños miran desde la ventana. " +
      "esta es una historia corta sobre el tiempo y la gente que vive en la ciudad vieja junto al río. " +
      "siempre debemos recordar que el conocimiento y la libertad van juntos en cada país libre. " +
      "los estudiantes leen sus libros en la biblioteca y hablan cada tarde de historia y de ciencia. " +
      "hubo un tiempo en que el mundo parecía mucho más grande y cada viaje duraba muchas semanas. " +
      "dicen que al que madruga dios lo ayuda pero la paciencia también es una gran virtud. " +
      "los buenos amigos se ayudan en los momentos difíciles y comparten juntos los buenos momentos. " +
      "el gobierno anunció un nuevo plan para las escuelas y los hospitales de todo el país. " +
      "por la mañana ella bebe una taza de café y come pan con mantequilla y miel. " +
      "el tren sale de la estación a las siete y llega a la ciudad dos horas después. " +
      "mi hermano toca el piano y mi hermana canta viejas canciones por la noche. " +
      "el mercado vende fruta fresca y verduras de las granjas cerca de las montañas. " +
      "llovió toda la noche pero el sol volvió a salir a media mañana. " +
      "la carta llegó el lunes y la respuesta fue escrita la misma semana. " +
      "cada año la familia viaja al mar y pasa el verano cerca del agua."),
    "fr" -> ("le rapide renard brun saute par dessus le chien paresseux pendant que les enfants regardent depuis la fenêtre. " +
      "ceci est une courte histoire sur le temps et les gens qui vivent dans la vieille ville au bord de la rivière. " +
      "nous devrions toujours nous souvenir que le savoir et la liberté vont ensemble dans chaque pays libre. " +
      "les étudiants lisent leurs livres à la bibliothèque et parlent chaque après midi de histoire et de science. " +
      "il fut un temps où le monde semblait beaucoup plus grand et chaque voyage durait de longues semaines. " +
      "on dit que le monde appartient à ceux qui se lèvent tôt mais la patience est aussi une grande vertu. " +
      "les bons amis se soutiennent dans les moments difficiles et partagent ensemble les bons moments. " +
      "le gouvernement a annoncé un nouveau plan pour les écoles et les hôpitaux de tout le pays. " +
      "le matin elle boit une tasse de café et mange du pain avec du beurre et du miel. " +
      "le train quitte la gare à sept heures et arrive en ville deux heures plus tard. " +
      "mon frère joue du piano et ma soeur chante de vieilles chansons le soir. " +
      "le marché vend des fruits frais et des légumes des fermes près des montagnes. " +
      "il a plu toute la nuit mais le soleil est revenu à la fin de la matinée. " +
      "la lettre est arrivée lundi et la réponse fut écrite la même semaine. " +
      "chaque année la famille voyage vers la mer et passe la saison chaude près des vagues."),
    "it" -> ("la veloce volpe marrone salta sopra il cane pigro mentre i bambini guardano dalla finestra. " +
      "questa è una breve storia sul tempo e sulla gente che vive nella città vecchia lungo il fiume. " +
      "dovremmo sempre ricordare che il sapere e la libertà vanno insieme in ogni paese libero. " +
      "gli studenti leggono i loro libri in biblioteca e parlano ogni pomeriggio di storia e di scienza. " +
      "ci fu un tempo in cui il mondo sembrava molto più grande e ogni viaggio durava molte settimane. " +
      "si dice che chi dorme non piglia pesci ma anche la pazienza è una grande virtù. " +
      "i buoni amici si aiutano nei momenti difficili e condividono insieme i momenti felici. " +
      "il governo ha annunciato un nuovo piano per le scuole e gli ospedali di tutto il paese. " +
      "la mattina lei beve una tazza di caffè e mangia pane con burro e miele. " +
      "il treno parte dalla stazione alle sette e arriva in città due ore dopo. " +
      "mio fratello suona il pianoforte e mia sorella canta vecchie canzoni la sera. " +
      "il mercato vende frutta fresca e verdura delle fattorie vicino alle montagne. " +
      "è piovuto tutta la notte ma il sole è tornato a metà mattina. " +
      "la lettera è arrivata lunedì e la risposta fu scritta la stessa settimana. " +
      "ogni anno la famiglia viaggia verso il mare e passa la estate vicino alla acqua."),
    "pt" -> ("a rápida raposa marrom salta sobre o cão preguiçoso enquanto as crianças observam da janela. " +
      "esta é uma história curta sobre o tempo e as pessoas que vivem na cidade velha junto ao rio. " +
      "devemos sempre lembrar que o conhecimento e a liberdade andam juntos em cada país livre. " +
      "os estudantes leem os seus livros na biblioteca e falam todas as tardes de história e de ciência. " +
      "houve um tempo em que o mundo parecia muito maior e cada viagem durava muitas semanas. " +
      "dizem que deus ajuda quem cedo madruga mas a paciência também é uma grande virtude. " +
      "os bons amigos se ajudam nos momentos difíceis e partilham juntos os bons momentos. " +
      "o governo anunciou um novo plano para as escolas e os hospitais de todo o país. " +
      "de manhã ela bebe uma xícara de café e come pão com manteiga e mel. " +
      "o trem sai da estação às sete e chega à cidade duas horas depois. " +
      "o meu irmão toca piano e a minha irmã canta velhas canções à noite. " +
      "o mercado vende fruta fresca e legumes das fazendas perto das montanhas. " +
      "choveu a noite toda mas o sol voltou a aparecer no meio da manhã. " +
      "a carta chegou na segunda feira e a resposta foi escrita na mesma semana. " +
      "todos os anos a família viaja para o mar e passa o verão perto da água."),
    "ru" -> ("быстрая коричневая лиса прыгает через ленивую собаку пока дети смотрят из окна. " +
      "это короткая история о погоде и людях которые живут в старом городе у реки. " +
      "мы всегда должны помнить что знание и свобода идут вместе в каждой свободной стране. " +
      "студенты читают свои книги в библиотеке и каждый день говорят об истории и науке. " +
      "было время когда мир казался намного больше и каждое путешествие длилось много недель. " +
      "говорят что кто рано встаёт тому бог подаёт но терпение тоже великая добродетель. " +
      "хорошие друзья помогают друг другу в трудные времена и делят вместе хорошие времена. " +
      "утром она пьёт чашку кофе и ест хлеб с маслом и мёдом. " +
      "поезд уходит с вокзала в семь и прибывает в город через два часа. " +
      "рынок продаёт свежие фрукты и овощи с ферм возле гор. " +
      "вечером город тихий и только ветер шумит в высоких деревьях у дороги. " +
      "письмо пришло в понедельник и ответ был написан на той же неделе. " +
      "каждый год семья едет к морю и проводит лето у воды. " +
      "мой брат играет на пианино а моя сестра поёт вечером старые песни. " +
      "на рынке можно купить хлеб молоко сыр и тёплые пироги с капустой. " +
      "зимой дети катаются на санках с горки а весной пускают кораблики по ручьям."),
    "zh" -> ("敏捷的棕色狐狸跳过懒惰的狗而孩子们在窗边看着。" +
      "这是一个关于天气和住在河边老城里的人们的短故事。" +
      "我们应当永远记得知识和自由在每个自由的国家都是连在一起的。" +
      "学生们在图书馆里读书每天下午谈论历史和科学。" +
      "曾经有一个时代世界看起来大得多每次旅行都要花许多星期。" +
      "人们说早起的鸟儿有虫吃但是第二只老鼠才能得到奶酪。" +
      "好朋友在困难的时候互相帮助也一起分享美好的时光。" +
      "政府宣布了一个为全国学校和医院服务的新计划。" +
      "早晨她喝一杯咖啡吃涂了黄油和蜂蜜的面包。" +
      "火车七点离开车站两个小时后到达城市。" +
      "我的哥哥弹钢琴我的妹妹在晚上唱老歌。" +
      "市场出售来自山边农场的新鲜水果和蔬菜。" +
      "雨下了一整夜但是太阳在上午晚些时候又出来了。" +
      "信在星期一到达回信在同一个星期写好。" +
      "每年这家人都去海边在水边度过夏天。" +
      "春天的早晨天气晴朗孩子们沿着宽宽的街道走到学校。" +
      "冬天很寒冷人们穿上厚衣服匆匆走回家里。" +
      "城里的钟楼每天中午敲十二下声音传得很远。" +
      "四月的雨水让花园里的花都开了出来。" +
      "他在窄窄的巷子里走着看见墙边开满了花。" +
      "晚上八点以后街道变得安静只有风吹过树林。" +
      "我们一家人喜欢在傍晚沿着河边散步说说一天的事情。" +
      "图书馆的大门九点打开学生们排着队走进去。"),
    "ja" -> ("すばやい茶色の狐はなまけた犬を飛びこえて子どもたちは窓から見ている。" +
      "これは天気と川のそばの古い町に住む人々についての短い物語である。" +
      "知識と自由はすべての自由な国でともにあることをいつも覚えておくべきだ。" +
      "学生たちは図書館で本を読み毎日午後に歴史と科学について話す。" +
      "世界がずっと大きく見えてどの旅も何週間もかかった時代があった。" +
      "早起きの鳥は虫をつかまえるが二番目のねずみがチーズを手に入れると人は言う。" +
      "よい友だちは苦しい時に助け合いよい時を分かち合う。" +
      "政府は国じゅうの学校と病院のための新しい計画を発表した。" +
      "朝に彼女はコーヒーを一杯飲みバターと蜂蜜をぬったパンを食べる。" +
      "列車は七時に駅を出て二時間後に町に着く。" +
      "兄はピアノをひき妹は夜に古い歌をうたう。" +
      "市場は山の近くの農場からの新しい果物と野菜を売っている。" +
      "夜のあいだ雨が降ったが朝おそくに太陽がまた出てきた。" +
      "手紙は月曜日に届き返事は同じ週に書かれた。" +
      "毎年その家族は海へ行き水のそばで夏を過ごす。" +
      "よく晴れた四月の朝に子どもたちは広い通りを歩いて学校へ行く。" +
      "冬はとても寒く人々は厚い上着を着て急いで家に帰る。" +
      "町の時計台は毎日昼に十二回鐘を打ちその音は遠くまでひびく。" +
      "雨あがりのせまい道を人々はいそいで歩いて帰っていった。"),
    "ko" -> ("재빠른 갈색 여우가 게으른 개를 뛰어넘는 동안 아이들은 창가에서 바라본다. " +
      "이것은 날씨와 강가의 오래된 마을에 사는 사람들에 관한 짧은 이야기이다. " +
      "지식과 자유는 모든 자유로운 나라에서 함께 간다는 것을 우리는 언제나 기억해야 한다. " +
      "학생들은 도서관에서 책을 읽고 매일 오후에 역사와 과학에 대해 이야기한다. " +
      "세상이 훨씬 더 크게 보이고 모든 여행이 몇 주씩 걸리던 시절이 있었다. " +
      "일찍 일어나는 새가 벌레를 잡지만 두 번째 쥐가 치즈를 얻는다고 사람들은 말한다. " +
      "좋은 친구들은 어려운 때에 서로 돕고 좋은 때를 함께 나눈다. " +
      "정부는 온 나라의 학교와 병원을 위한 새로운 계획을 발표했다. " +
      "아침에 그녀는 커피 한 잔을 마시고 버터와 꿀을 바른 빵을 먹는다. " +
      "기차는 일곱 시에 역을 떠나 두 시간 뒤에 도시에 닿는다. " +
      "나의 형은 피아노를 치고 나의 누이는 저녁에 옛 노래를 부른다. " +
      "시장은 산 가까이 농장에서 온 신선한 과일과 채소를 판다. " +
      "밤새 비가 내렸지만 늦은 아침에 해가 다시 나왔다. " +
      "편지는 월요일에 도착했고 답장은 같은 주에 쓰였다. " +
      "해마다 그 가족은 바다로 가서 물가에서 여름을 보낸다."),
    // ar/el/hi: parallel renderings of the same story themes (this
    // repo's own words), hamza/diacritic-light MSA, accented lowercase
    // Greek, standard Devanagari (matras are Mn/Mc codepoints — they
    // never score alone but ride inside letter-bearing grams)
    "ar" -> ("الثعلب البني السريع يقفز فوق الكلب الكسول بينما يشاهد الاطفال من النافذة. " +
      "هذه قصة قصيرة عن الطقس وعن الناس الذين يعيشون في المدينة القديمة قرب النهر. " +
      "يجب ان نتذكر دائما ان المعرفة والحرية تسيران معا في كل بلد حر. " +
      "يقرا الطلاب كتبهم في المكتبة ويتحدثون كل مساء عن التاريخ والعلوم. " +
      "كان هناك زمن بدا فيه العالم اكبر بكثير وكانت كل رحلة تستغرق اسابيع طويلة. " +
      "يقول الناس ان الطائر المبكر يمسك الدودة لكن الفار الثاني يحصل على الجبن. " +
      "الاصدقاء الطيبون يساعدون بعضهم في الاوقات الصعبة ويتقاسمون الاوقات الجميلة. " +
      "اعلنت الحكومة خطة جديدة للمدارس والمستشفيات في جميع انحاء البلاد. " +
      "في الصباح تشرب فنجان قهوة وتاكل خبزا مع الزبدة والعسل. " +
      "يغادر القطار المحطة في الساعة السابعة ويصل الى المدينة بعد ساعتين. " +
      "اخي يعزف على البيانو واختي تغني اغاني قديمة في المساء. " +
      "يبيع السوق فواكه وخضروات طازجة من المزارع القريبة من الجبال. " +
      "امطرت طوال الليل لكن الشمس ظهرت من جديد في الصباح المتاخر. " +
      "وصلت الرسالة يوم الاثنين وكتب الرد في الاسبوع نفسه. " +
      "في كل عام تسافر العائلة الى البحر وتقضي الصيف قرب الماء."),
    "el" -> ("η γρήγορη καφετιά αλεπού πηδάει πάνω από τον τεμπέλη σκύλο ενώ τα παιδιά κοιτάζουν από το παράθυρο. " +
      "αυτή είναι μια σύντομη ιστορία για τον καιρό και τους ανθρώπους που ζουν στην παλιά πόλη δίπλα στο ποτάμι. " +
      "πρέπει πάντα να θυμόμαστε ότι η γνώση και η ελευθερία πηγαίνουν μαζί σε κάθε ελεύθερη χώρα. " +
      "οι μαθητές διαβάζουν τα βιβλία τους στη βιβλιοθήκη και μιλούν κάθε απόγευμα για την ιστορία και την επιστήμη. " +
      "υπήρχε μια εποχή που ο κόσμος φαινόταν πολύ μεγαλύτερος και κάθε ταξίδι κρατούσε πολλές εβδομάδες. " +
      "λένε ότι το πρώτο πουλί πιάνει το σκουλήκι αλλά το δεύτερο ποντίκι παίρνει το τυρί. " +
      "οι καλοί φίλοι βοηθούν ο ένας τον άλλον στις δύσκολες στιγμές και μοιράζονται τις καλές στιγμές. " +
      "η κυβέρνηση ανακοίνωσε ένα νέο σχέδιο για τα σχολεία και τα νοσοκομεία σε όλη τη χώρα. " +
      "το πρωί εκείνη πίνει ένα φλιτζάνι καφέ και τρώει ψωμί με βούτυρο και μέλι. " +
      "το τρένο φεύγει από τον σταθμό στις επτά και φτάνει στην πόλη δύο ώρες αργότερα. " +
      "ο αδελφός μου παίζει πιάνο και η αδελφή μου τραγουδά παλιά τραγούδια το βράδυ. " +
      "η αγορά πουλά φρέσκα φρούτα και λαχανικά από τα αγροκτήματα κοντά στα βουνά. " +
      "έβρεχε όλη τη νύχτα αλλά ο ήλιος βγήκε ξανά αργά το πρωί. " +
      "το γράμμα έφτασε τη δευτέρα και η απάντηση γράφτηκε την ίδια εβδομάδα. " +
      "κάθε χρόνο η οικογένεια ταξιδεύει στη θάλασσα και περνά το καλοκαίρι κοντά στο νερό."),
    // th/he/fa (round 16): Thai unsegmented with sentence spaces, plain
    // modern Hebrew without niqqud, Persian with spaced verb compounds
    // (no ZWNJ — keeps the literals plain-space tokenizable); fa shares
    // the Arabic SCRIPT, so its discrimination from ar rides on
    // function-word bigrams/trigrams like the Latin family's
    "th" -> ("สุนัขจิ้งจอกสีน้ำตาลที่ว่องไวกระโดดข้ามสุนัขขี้เกียจขณะที่เด็กเฝ้ามองอยู่ที่หน้าต่าง. " +
      "นี่คือเรื่องสั้นเกี่ยวกับอากาศและผู้คนที่อาศัยอยู่ในเมืองเก่าริมแม่น้ำ. " +
      "เราควรจดจำไว้เสมอว่าความรู้และเสรีภาพเดินไปด้วยกันในทุกประเทศที่เสรี. " +
      "นักเรียนอ่านหนังสือของตนในห้องสมุดและพูดคุยเรื่องประวัติศาสตร์และวิทยาศาสตร์ทุกบ่าย. " +
      "มีช่วงเวลาหนึ่งที่โลกดูกว้างใหญ่กว่านี้มากและการเดินทางแต่ละครั้งใช้เวลาหลายสัปดาห์. " +
      "ผู้คนพูดว่านกที่ตื่นเช้าจับหนอนได้แต่หนูตัวที่สองได้กินเนยแข็ง. " +
      "เพื่อนที่ดีช่วยเหลือกันในยามยากและแบ่งปันช่วงเวลาที่ดีด้วยกัน. " +
      "รัฐบาลประกาศแผนใหม่สำหรับโรงเรียนและโรงพยาบาลทั่วทั้งประเทศ. " +
      "ในตอนเช้าเธอดื่มกาแฟหนึ่งถ้วยและกินขนมปังกับเนยและน้ำผึ้ง. " +
      "รถไฟออกจากสถานีตอนเจ็ดโมงและถึงเมืองในอีกสองชั่วโมงต่อมา. " +
      "พี่ชายของฉันเล่นเปียโนและน้องสาวของฉันร้องเพลงเก่าในตอนเย็น. " +
      "ตลาดขายผลไม้และผักสดจากไร่นาใกล้ภูเขา. " +
      "ฝนตกตลอดทั้งคืนแต่ดวงอาทิตย์ก็ออกมาอีกครั้งในตอนสาย. " +
      "จดหมายมาถึงในวันจันทร์และคำตอบถูกเขียนในสัปดาห์เดียวกัน. " +
      "ทุกปีครอบครัวเดินทางไปทะเลและใช้เวลาฤดูร้อนอยู่ใกล้น้ำ."),
    "he" -> ("השועל החום המהיר קופץ מעל הכלב העצלן בעוד הילדים מביטים מן החלון. " +
      "זהו סיפור קצר על מזג האוויר ועל האנשים שגרים בעיר העתיקה ליד הנהר. " +
      "עלינו לזכור תמיד שידע וחירות הולכים יחד בכל ארץ חופשית. " +
      "התלמידים קוראים את ספריהם בספרייה ומדברים כל אחר צהריים על היסטוריה ומדע. " +
      "היה זמן שבו העולם נראה גדול הרבה יותר וכל מסע נמשך שבועות רבים. " +
      "אומרים שהציפור המקדימה תופסת את התולעת אבל העכבר השני מקבל את הגבינה. " +
      "חברים טובים עוזרים זה לזה בזמנים קשים וחולקים יחד את הזמנים הטובים. " +
      "הממשלה הכריזה על תוכנית חדשה לבתי ספר ולבתי חולים בכל הארץ. " +
      "בבוקר היא שותה כוס קפה ואוכלת לחם עם חמאה ודבש. " +
      "הרכבת יוצאת מן התחנה בשעה שבע ומגיעה לעיר שעתיים לאחר מכן. " +
      "אחי מנגן בפסנתר ואחותי שרה שירים ישנים בערב. " +
      "השוק מוכר פירות וירקות טריים מן החוות שליד ההרים. " +
      "ירד גשם כל הלילה אבל השמש יצאה שוב בשעת בוקר מאוחרת. " +
      "המכתב הגיע ביום שני והתשובה נכתבה באותו שבוע. " +
      "בכל שנה המשפחה נוסעת אל הים ומבלה את הקיץ ליד המים."),
    "fa" -> ("روباه قهوه ای تندرو از روی سگ تنبل می پرد در حالی که بچه ها از پنجره تماشا می کنند. " +
      "این داستان کوتاهی است درباره هوا و مردمی که در شهر قدیمی کنار رودخانه زندگی می کنند. " +
      "ما باید همیشه به یاد داشته باشیم که دانش و آزادی در هر کشور آزاد با هم همراهند. " +
      "دانش آموزان کتاب های خود را در کتابخانه می خوانند و هر بعدازظهر درباره تاریخ و علم گفتگو می کنند. " +
      "زمانی بود که جهان بسیار بزرگتر به نظر می رسید و هر سفر هفته های زیادی طول می کشید. " +
      "مردم می گویند پرنده سحرخیز کرم را می گیرد اما موش دوم پنیر را به دست می آورد. " +
      "دوستان خوب در روزهای سخت به یکدیگر کمک می کنند و روزهای خوب را با هم قسمت می کنند. " +
      "دولت برنامه تازه ای برای مدرسه ها و بیمارستان های سراسر کشور اعلام کرد. " +
      "صبح او یک فنجان قهوه می نوشد و نان را با کره و عسل می خورد. " +
      "قطار ساعت هفت از ایستگاه حرکت می کند و دو ساعت بعد به شهر می رسد. " +
      "برادرم پیانو می نوازد و خواهرم شب ها ترانه های قدیمی می خواند. " +
      "بازار میوه و سبزی تازه را از مزرعه های نزدیک کوه ها می فروشد. " +
      "تمام شب باران بارید اما آفتاب در اواخر صبح دوباره بیرون آمد. " +
      "نامه روز دوشنبه رسید و پاسخ در همان هفته نوشته شد. " +
      "هر سال خانواده به دریا سفر می کند و تابستان را نزدیک آب می گذراند."),
    "hi" -> ("तेज भूरी लोमड़ी आलसी कुत्ते के ऊपर से कूदती है जबकि बच्चे खिड़की से देखते हैं। " +
      "यह मौसम के बारे में और नदी के किनारे पुराने शहर में रहने वाले लोगों के बारे में एक छोटी कहानी है। " +
      "हमें हमेशा याद रखना चाहिए कि ज्ञान और स्वतंत्रता हर स्वतंत्र देश में साथ साथ चलते हैं। " +
      "छात्र पुस्तकालय में अपनी किताबें पढ़ते हैं और हर दोपहर इतिहास और विज्ञान के बारे में बातें करते हैं। " +
      "एक समय था जब दुनिया बहुत बड़ी लगती थी और हर यात्रा में कई सप्ताह लगते थे। " +
      "लोग कहते हैं कि जल्दी उठने वाली चिड़िया को कीड़ा मिलता है लेकिन दूसरे चूहे को पनीर मिलता है। " +
      "अच्छे मित्र कठिन समय में एक दूसरे की मदद करते हैं और अच्छे समय को मिलकर बांटते हैं। " +
      "सरकार ने पूरे देश के स्कूलों और अस्पतालों के लिए एक नई योजना की घोषणा की। " +
      "सुबह वह एक कप कॉफी पीती है और मक्खन और शहद के साथ रोटी खाती है। " +
      "रेलगाड़ी सात बजे स्टेशन से निकलती है और दो घंटे बाद शहर पहुंचती है। " +
      "मेरा भाई पियानो बजाता है और मेरी बहन शाम को पुराने गीत गाती है। " +
      "बाजार पहाड़ों के पास के खेतों से ताजे फल और सब्जियां बेचता है। " +
      "रात भर बारिश होती रही लेकिन देर सुबह सूरज फिर निकल आया। " +
      "पत्र सोमवार को पहुंचा और उत्तर उसी सप्ताह लिखा गया। " +
      "हर साल परिवार समुद्र की ओर जाता है और पानी के पास गर्मियां बिताता है।"),
    "tr" -> ("hızlı kahverengi tilki tembel köpeğin üzerinden atlar ve çocuklar pencereden izler. " +
      "bu eski nehir kasabasında yaşayan insanlar ve hava durumu hakkında kısa bir hikayedir. " +
      "bilgi ve özgürlüğün her özgür ülkede birlikte var olduğunu her zaman hatırlamalıyız. " +
      "öğrenciler kütüphanede kitaplarını okur ve her öğleden sonra tarih ve bilim hakkında konuşurlar. " +
      "dünyanın çok daha büyük göründüğü ve her yolculuğun haftalar sürdüğü bir zaman vardı. " +
      "erken kalkan kuş solucanı yakalar ama peyniri ikinci fare alır derler. " +
      "iyi dostlar zor zamanlarda birbirine yardım eder ve güzel günleri birlikte paylaşır. " +
      "hükümet ülke genelinde okullar ve hastaneler için yeni bir plan açıkladı. " +
      "sabahları bir fincan kahve içer ve tereyağı ile bal sürülmüş ekmek yer. " +
      "tren istasyondan yedide kalkar ve iki saat sonra şehre varır. " +
      "kardeşim piyano çalar ve kız kardeşim akşamları eski şarkılar söyler. " +
      "pazar dağların yakınındaki çiftliklerden taze meyve ve sebze satar. " +
      "bütün gece yağmur yağdı ama güneş sabahın geç saatlerinde yeniden çıktı. " +
      "mektup pazartesi günü geldi ve cevap aynı hafta içinde yazıldı. " +
      "aile her yıl denize gider ve yazı suyun kenarında geçirir."),
    "bn" -> ("দ্রুত বাদামি শিয়াল অলস কুকুরের উপর দিয়ে লাফ দেয় আর শিশুরা জানালা থেকে দেখে। " +
      "এটি নদীর ধারের পুরনো শহরে বসবাসকারী মানুষ আর আবহাওয়া নিয়ে একটি ছোট গল্প। " +
      "আমাদের সবসময় মনে রাখা উচিত যে জ্ঞান আর স্বাধীনতা প্রতিটি মুক্ত দেশে একসাথে থাকে। " +
      "ছাত্ররা গ্রন্থাগারে তাদের বই পড়ে আর প্রতি বিকেলে ইতিহাস আর বিজ্ঞান নিয়ে কথা বলে। " +
      "এমন এক সময় ছিল যখন পৃথিবীকে অনেক বড় মনে হত আর প্রতিটি যাত্রায় অনেক সপ্তাহ লাগত। " +
      "লোকে বলে আগে ওঠা পাখি পোকা ধরে কিন্তু দ্বিতীয় ইঁদুর পনির পায়। " +
      "ভালো বন্ধুরা কঠিন সময়ে একে অপরকে সাহায্য করে আর ভালো সময় ভাগ করে নেয়। " +
      "সরকার সারা দেশের স্কুল আর হাসপাতালের জন্য একটি নতুন পরিকল্পনা ঘোষণা করেছে। " +
      "সকালে সে এক কাপ কফি খায় আর মাখন ও মধু দিয়ে রুটি খায়। " +
      "ট্রেন সাতটায় স্টেশন ছাড়ে আর দুই ঘণ্টা পরে শহরে পৌঁছায়। " +
      "আমার ভাই পিয়ানো বাজায় আর আমার বোন সন্ধ্যায় পুরনো গান গায়। " +
      "বাজারে পাহাড়ের কাছের খামার থেকে আসা টাটকা ফল আর সবজি বিক্রি হয়। " +
      "সারা রাত বৃষ্টি হল কিন্তু শেষ সকালে সূর্য আবার উঠল। " +
      "চিঠিটি সোমবার এল আর উত্তর সেই সপ্তাহেই লেখা হল। " +
      "প্রতি বছর পরিবারটি সমুদ্রে যায় আর গ্রীষ্ম জলের ধারে কাটায়।"),
    "ta" -> ("வேகமான பழுப்பு நரி சோம்பேறி நாயின் மேல் தாவுகிறது குழந்தைகள் ஜன்னலில் இருந்து பார்க்கிறார்கள். " +
      "இது ஆற்றங்கரையில் உள்ள பழைய ஊரில் வாழும் மக்களையும் வானிலையையும் பற்றிய சிறு கதை. " +
      "அறிவும் சுதந்திரமும் ஒவ்வொரு சுதந்திர நாட்டிலும் ஒன்றாக இருக்கின்றன என்பதை நாம் எப்போதும் நினைவில் கொள்ள வேண்டும். " +
      "மாணவர்கள் நூலகத்தில் தங்கள் புத்தகங்களைப் படிக்கிறார்கள் ஒவ்வொரு மதியமும் வரலாறு மற்றும் அறிவியல் பற்றி பேசுகிறார்கள். " +
      "உலகம் மிகப் பெரியதாகத் தோன்றிய ஒவ்வொரு பயணமும் பல வாரங்கள் எடுத்த காலம் ஒன்று இருந்தது. " +
      "முன்னே எழும் பறவை புழுவைப் பிடிக்கும் ஆனால் இரண்டாவது எலி பாலாடையைப் பெறும் என்று சொல்வார்கள். " +
      "நல்ல நண்பர்கள் கடினமான காலங்களில் ஒருவருக்கொருவர் உதவுகிறார்கள் நல்ல காலங்களைப் பகிர்ந்து கொள்கிறார்கள். " +
      "அரசு நாடு முழுவதும் பள்ளிகள் மற்றும் மருத்துவமனைகளுக்கான புதிய திட்டத்தை அறிவித்தது. " +
      "காலையில் அவள் ஒரு கோப்பை காபி குடிக்கிறாள் வெண்ணெயும் தேனும் தடவிய ரொட்டி சாப்பிடுகிறாள். " +
      "ரயில் ஏழு மணிக்கு நிலையத்தை விட்டு புறப்பட்டு இரண்டு மணி நேரம் கழித்து நகரத்தை அடைகிறது. " +
      "என் அண்ணன் பியானோ வாசிக்கிறான் என் தங்கை மாலையில் பழைய பாடல்களைப் பாடுகிறாள். " +
      "சந்தையில் மலைகளுக்கு அருகிலுள்ள பண்ணைகளில் இருந்து வரும் புதிய பழங்களும் காய்கறிகளும் விற்கப்படுகின்றன. " +
      "இரவு முழுவதும் மழை பெய்தது ஆனால் காலை முடிவில் சூரியன் மீண்டும் வந்தது. " +
      "கடிதம் திங்கள் அன்று வந்தது பதில் அதே வாரத்தில் எழுதப்பட்டது. " +
      "ஒவ்வொரு ஆண்டும் குடும்பம் கடலுக்குச் சென்று கோடையை நீரின் அருகே கழிக்கிறது."),
    "te" -> ("వేగవంతమైన గోధుమ నక్క సోమరి కుక్క మీద నుంచి దూకుతుంది పిల్లలు కిటికీ నుంచి చూస్తారు. " +
      "ఇది నది ఒడ్డున ఉన్న పాత ఊరిలో నివసించే ప్రజల గురించి వాతావరణం గురించి చిన్న కథ. " +
      "జ్ఞానం స్వేచ్ఛ ప్రతి స్వేచ్ఛా దేశంలో కలిసి ఉంటాయని మనం ఎప్పుడూ గుర్తుంచుకోవాలి. " +
      "విద్యార్థులు గ్రంథాలయంలో తమ పుస్తకాలు చదువుతారు ప్రతి మధ్యాహ్నం చరిత్ర విజ్ఞానం గురించి మాట్లాడుతారు. " +
      "ప్రపంచం చాలా పెద్దదిగా కనిపించిన ప్రతి ప్రయాణం చాలా వారాలు పట్టిన కాలం ఒకటి ఉండేది. " +
      "ముందుగా లేచిన పక్షి పురుగును పడుతుంది కాని రెండవ ఎలుకకు జున్ను దొరుకుతుంది అంటారు. " +
      "మంచి స్నేహితులు కష్ట కాలంలో ఒకరికొకరు సహాయం చేస్తారు మంచి రోజులను పంచుకుంటారు. " +
      "ప్రభుత్వం దేశవ్యాప్తంగా పాఠశాలలు ఆసుపత్రుల కోసం కొత్త ప్రణాళికను ప్రకటించింది. " +
      "ఉదయం ఆమె ఒక కప్పు కాఫీ తాగుతుంది వెన్న తేనెతో రొట్టె తింటుంది. " +
      "రైలు ఏడు గంటలకు స్టేషన్ విడిచి రెండు గంటల తరువాత నగరానికి చేరుతుంది. " +
      "మా అన్న పియానో వాయిస్తాడు మా చెల్లి సాయంత్రం పాత పాటలు పాడుతుంది. " +
      "సంతలో కొండల దగ్గరి పొలాల నుంచి వచ్చిన తాజా పండ్లు కూరగాయలు అమ్ముతారు. " +
      "రాత్రంతా వాన కురిసింది కాని ఆలస్య ఉదయాన సూర్యుడు మళ్ళీ వచ్చాడు. " +
      "ఉత్తరం సోమవారం వచ్చింది జవాబు అదే వారంలో రాయబడింది. " +
      "ప్రతి సంవత్సరం కుటుంబం సముద్రానికి వెళ్ళి వేసవిని నీటి దగ్గర గడుపుతుంది."))

  /** Trained model: languages in ascending order (the tie-break order),
    * per-language gram→logp tables, per-language OOV log-probability.
    * `packed` is the kernel's hot-path view: ONE map lookup per scored
    * gram returns the full per-language logp vector (a known gram's
    * vector carries each language's smoothed probability — the OOV rate
    * where that language never saw it), so scoring costs one probe + k
    * adds instead of k probes; grams absent from every language add a
    * counted `oov` tail instead.
    */
  final class Trained(
      val langs: Array[String],
      val logp: Array[java.util.HashMap[String, java.lang.Double]],
      val oov: Array[Double])
      extends Serializable {
    val packed: java.util.HashMap[String, Array[Double]] = {
      val m = new java.util.HashMap[String, Array[Double]]()
      for (l <- langs.indices) {
        logp(l).forEach { (g, lp) =>
          val vec = m.computeIfAbsent(g, _ => oov.clone())
          vec(l) = lp.doubleValue()
        }
      }
      m
    }
  }

  /** All order-1/2/3 codepoint grams of `s`, order-pooled (a 1-char gram
    * and a 3-char gram never collide — they differ in length).
    */
  private[functions] def grams(s: String): Iterator[String] = {
    val cps = s.codePoints().toArray
    (1 to 3).iterator.flatMap(o =>
      (0 to cps.length - o).iterator.map(i => new String(cps, i, o)))
  }

  /** Laplace-smoothed mixed-order gram model over the GLOBAL seed
    * vocabulary: `logp(g|lang) = ln((count + 1) / (total_lang + V))`,
    * `oov(lang) = ln(1 / (total_lang + V))` with `V` = distinct grams of
    * all orders across ALL languages' seeds (a shared vocabulary keeps
    * the smoothing mass comparable across languages).
    */
  def train(seedTexts: Seq[(String, String)]): Trained = {
    require(seedTexts.map(_._1).distinct.size == seedTexts.size,
      "duplicate language in seeds")
    val sorted = seedTexts.sortBy(_._1)
    val perLang = sorted.map { case (lang, txt) =>
      val counts = new java.util.HashMap[String, Long]()
      grams(txt.toLowerCase(Locale.ROOT))
        .foreach(g => counts.merge(g, 1L, (a, b) => a + b))
      (lang, counts)
    }
    val vocab = new java.util.HashSet[String]()
    perLang.foreach { case (_, c) => vocab.addAll(c.keySet()) }
    val v = vocab.size.toDouble
    val langs = sorted.map(_._1).toArray
    val logp = new Array[java.util.HashMap[String, java.lang.Double]](langs.length)
    val oov = new Array[Double](langs.length)
    perLang.zipWithIndex.foreach { case ((_, counts), li) =>
      var tot = 0.0
      counts.forEach((_, c) => tot += c.toDouble)
      val m = new java.util.HashMap[String, java.lang.Double](counts.size() * 2)
      counts.forEach((tri, c) =>
        m.put(tri, java.lang.Double.valueOf(math.log((c.toDouble + 1.0) / (tot + v)))))
      logp(li) = m
      oov(li) = math.log(1.0 / (tot + v))
    }
    new Trained(langs, logp, oov)
  }

  val model: Trained = train(seeds)
}

object LangIdKernel {

  val dataType: StructType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("avg_lp", DoubleType, nullable = false),
    StructField("margin", DoubleType, nullable = false),
    StructField("oov_gap", DoubleType, nullable = false),
    StructField("n_tri", IntegerType, nullable = false)))

  private val und = UTF8String.fromString("und")

  def eval(text: UTF8String): InternalRow = {
    val m = LangIdModel.model
    val s = text.toString.toLowerCase(Locale.ROOT)
    // codepoint windows (NOT UTF-16 units): supplementary-plane chars
    // must stay whole, and the oracle mirror's substr() is codepoint-based
    val cps = s.codePoints().toArray
    val nTri = cps.length - 2
    if (nTri <= 0) return InternalRow(und, 0.0, 0.0, 0.0, 0)
    val k = m.langs.length
    val scores = new Array[Double](k)
    // Only grams containing at least one LETTER codepoint score: spaces,
    // digits and punctuation are shared by every language's seed, and
    // counting them both dilutes CJK evidence and hands unseen scripts a
    // spurious positive gap (their spaces are "known" to every model).
    // With the filter, text in a truly unseen script shares NO scored
    // gram with any seed and gaps to exactly 0 — the und invariant.
    // "Letter" is Java's Character.isLetter (Lu/Ll/Lt/Lm/Lo); the
    // DuckDB oracle mirror uses RE2's \p{L}, the same five categories
    // — but the two Unicode tables can diverge on EDGE codepoints
    // across JVM/DuckDB versions. Oracle fixtures therefore stick to
    // well-established letter blocks (Latin, Cyrillic, Greek, Arabic,
    // Devanagari, CJK, Hangul, Kana, Thai, Hebrew, Georgian, Armenian —
    // the probe scripts included), where both tables
    // have agreed for decades; combining marks (Mn/Mc — Devanagari
    // matras, Thai vowel signs) are non-letters on BOTH sides and only
    // score riding inside a gram that also carries a letter.
    val isL = new Array[Boolean](cps.length)
    var ci = 0
    while (ci < cps.length) {
      isL(ci) = Character.isLetter(cps(ci)); ci += 1
    }
    var nGrams = 0
    var nOov = 0
    var order = 1
    while (order <= 3) {
      var i = 0
      val last = cps.length - order
      while (i <= last) {
        var hasLetter = false
        var j = i
        while (j < i + order && !hasLetter) { hasLetter = isL(j); j += 1 }
        if (hasLetter) {
          val vec = m.packed.get(new String(cps, i, order))
          if (vec == null) nOov += 1
          else {
            var l = 0
            while (l < k) { scores(l) += vec(l); l += 1 }
          }
          nGrams += 1
        }
        i += 1
      }
      order += 1
    }
    if (nOov > 0) {
      var l = 0
      while (l < k) { scores(l) += nOov * m.oov(l); l += 1 }
    }
    // no letter gram at all (digits/punctuation-only text): no evidence
    if (nGrams == 0) return InternalRow(und, 0.0, 0.0, 0.0, nTri)
    // argmax + runner-up; langs are ascending, strictly-greater wins →
    // deterministic lowest-name tie-break
    var best = 0
    var l = 1
    while (l < k) {
      if (scores(l) > scores(best)) best = l
      l += 1
    }
    var second = Double.NegativeInfinity
    l = 0
    while (l < k) {
      if (l != best && scores(l) > second) second = scores(l)
      l += 1
    }
    val n = nGrams.toDouble
    val margin = if (k < 2) 0.0 else (scores(best) - second) / n
    val avg = scores(best) / n
    InternalRow(UTF8String.fromString(m.langs(best)), avg, margin,
      avg - m.oov(best), nTri)
  }
}

case class LangIdExpr(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("langid(text STRING) expected")
  override def dataType: DataType = LangIdKernel.dataType
  override def nullSafeEval(input: Any): Any =
    LangIdKernel.eval(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.LangIdKernel.eval($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
  override def prettyName: String = "langid"
}

object LangIdExpr {
  def langid(text: Column): Column = call_function("langid", text)
}
